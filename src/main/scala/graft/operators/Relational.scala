package graft.operators

import graft.sources.GraftCatalog
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TpchExprs.{cat, dsum, dsumr, revenueExpr, ts}

/** §2.A source/connector queries + §2.B MapReduce-replacement
  * relational core, expressed as declarative DataFrame programs so
  * Catalyst handles pushdown, pruning, join strategy and AQE.
  *
  * Scale notes (100 TB):
  *  - every groupBy/agg here gets automatic map-side partial
  *    aggregation (HashAggregate partial→final);
  *  - dim tables (region/nation/supplier/part at TPC-H ratios) stay
  *    far below the broadcast threshold → broadcast hash joins, no
  *    shuffle of the fact table for star joins;
  *  - top-k uses orderBy+limit → TakeOrderedAndProject (per-partition
  *    heaps, no global sort);
  *  - fact-fact joins (orders⋈lineitem) shuffle on the join key once;
  *    AQE splits skewed partitions at runtime.
  */
object Relational {

  private def davg(c: Column, scale: Int = 6): Column = round(dsum(c) / count(c), scale)

  // ───────────────────────────── §2.A source layer ─────────────────────────────

  /** A1: schema discovery + full typed scan (MetaUtils.getTableInfo analog). */
  def srcSchemaScan(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    // Discovery must happen without a data read; then scan in schema order.
    val fields = c.tableSchema("customer").fieldNames
    c.table("customer").select(fields.map(col).toIndexedSeq: _*).orderBy("c_custkey")
  }

  /** A2: partition-define string → typed column round-trip, incl. the
    * Hive default-partition sentinel → NULL
    * (reference ArgodbMapreduceRecordReader.java:182-201).
    */
  def srcTypedPartitionValues(s: SparkSession, dir: String): DataFrame = {
    val n = cat(s, dir).table("nation")
    // Synthesize the partition-define exactly as the reference sees it:
    // "col=value", with every 5th row carrying the null sentinel.
    val define = when(col("n_nationkey") % 5 === 0,
        lit(s"n_regionkey=${GraftCatalog.DefaultPartitionName}"))
      .otherwise(concat(lit("n_regionkey="), col("n_regionkey").cast("string")))
    n.withColumn("part_define", define)
      .withColumn("part_raw", substring_index(col("part_define"), "=", -1))
      .select(
        col("n_nationkey"), col("n_name"),
        when(col("part_raw") === GraftCatalog.DefaultPartitionName, lit(null))
          .otherwise(col("part_raw")).cast("int").as("part_value"))
      .orderBy("n_nationkey")
  }

  /** A3: single-value partition filter prunes the scan
    * (partitionFilter analog, ArgodbMapreduceInputFormat.java:208-255).
    */
  def srcPartitionPrune(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).scan("orders", "o_orderpriority=1-URGENT")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))

  /** A4: projection pushdown — only 2 of 11 lineitem columns read. */
  def srcProjectionPushdown(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("lineitem")
      .select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber")

  /** A5: predicate pushdown to the parquet scan. */
  def srcPredicatePushdown(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("lineitem")
      .where(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
             col("l_shipdate") <  ts("1997-01-01 00:00:00") &&
             col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("ship_ts"))
      .orderBy("l_orderkey", "l_linenumber")

  /** A6: one snapshot feeding two readers (the reference's shared
    * read-only transaction, ArgodbMapreduceInputFormat.java:52-102).
    */
  def srcSnapshotUnion(s: SparkSession, dir: String): DataFrame = {
    val v = cat(s, dir).table("orders").where(col("o_orderstatus") === "O")
    val byYear = v.groupBy(year(col("o_orderdate")).cast("string").as("key"))
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .select(lit("by_year").as("part"), col("key"), col("n"), col("total"))
    val byPriority = v.groupBy(col("o_orderpriority").as("key"))
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .select(lit("by_priority").as("part"), col("key"), col("n"), col("total"))
    byYear.unionAll(byPriority).orderBy("part", "key")
  }

  /** A7: partitioned sink + pruned read-back — hive-style layout is
    * the write-side of the reference's single-value partitioning; the
    * read prunes to one directory (PartitionFilters in the scan).
    */
  def srcPartitionedSink(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.GraftSink
    GraftSink.writePartitioned(cat(s, dir).table("orders"), "orders_by_priority", Seq("o_orderpriority"))
    GraftSink.readPartitioned(s, "orders_by_priority")
      .where(col("o_orderpriority") === "1-URGENT")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
  }

  /** A8: bucketed tables + shuffle-free sort-merge join — the
    * section/tablet bucketing analog: both sides pre-shuffled at write
    * time, the repeated join plans with zero Exchange.
    */
  def srcBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.GraftSink
    val c = cat(s, dir)
    GraftSink.writeBucketed(c.table("orders"), "graft_orders_b", "o_custkey")
    GraftSink.writeBucketed(c.table("customer"), "graft_customer_b", "c_custkey")
    s.table("graft_orders_b").hint("merge")
      .join(s.table("graft_customer_b"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("c_mktsegment")
  }

  /** A9: the DataSource V2 connector (InputFormat analog — row-group
    * splits, footer-stats pruning, column pruning) driven end to end
    * against a MULTI-FILE table directory: the connector enumerates
    * every data file and emits one split per (file, row group), the
    * analog of the reference's per-section rowset-group enumeration
    * (ArgodbMapreduceInputFormat.java:104-199).
    */
  def srcV2InputFormatScan(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.GraftSink
    val path = GraftSink.scratchDir + "/v2_orders_multi"
    cat(s, dir).table("orders").repartition(4).write.mode("overwrite").parquet(path)
    s.read.format("graft").load(path)
      .where(col("o_totalprice") > 200000.0)
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
  }

  /** A9 (type surface): DECIMAL columns through the v2 connector —
    * all three parquet physical backings in one table (INT32 for
    * precision <= 9, INT64 for <= 18, FIXED_LEN_BYTE_ARRAY above),
    * read back via `format("graft")` and aggregated exactly. The
    * reference reads the same decimal surface through its serde
    * (ArgodbSerdeUtils.java:71-102).
    */
  def srcV2DecimalScan(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.GraftSink
    val path = GraftSink.scratchDir + "/v2_lineitem_decimal"
    cat(s, dir).table("lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast(DecimalType(9, 2)).as("qty_dec"),        // INT32-backed
        col("l_extendedprice").cast(DecimalType(18, 2)).as("price_dec"), // INT64-backed
        col("l_discount").cast(DecimalType(25, 6)).as("disc_dec"))       // FLBA-backed
      .write.mode("overwrite").parquet(path)
    s.read.format("graft").load(path)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum(col("qty_dec")).cast("double"), 2).as("sum_qty"),
        round(sum(col("price_dec")).cast("double"), 2).as("sum_price"),
        round(sum(col("disc_dec")).cast("double"), 6).as("sum_disc"))
      .orderBy("l_returnflag")
  }

  /** A31: per-file bloom index (GraftBloomIndex) — the point-lookup
    * path for a high-cardinality key no partition layout or footer
    * min/max can prune. The orders table is written as many files,
    * indexed once on o_orderkey (one distributed pass, sidecars under
    * `_bloom_o_orderkey/`), then a 5-key lookup scans ONLY files
    * whose bloom might hold a probe key — the in-query `require`
    * proves files were actually pruned, and the exact IN-filter on
    * the survivors makes bloom false positives harmless. Oracle = the
    * plain IN-query over the base rows.
    */
  def srcBloomIndex(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.GraftBloomIndex
    val path = graft.sources.GraftSink.scratchDir + "/orders_bloomidx"
    cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .repartition(8).write.mode("overwrite").parquet(path)
    GraftBloomIndex.build(s, path, "o_orderkey")
    val keys = Seq(0L, 4L, 32L, 100L, 256L)
    val out = GraftBloomIndex.lookup(s, path, "o_orderkey", keys)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
    val total = graft.sources.v2.GraftV2.dataFiles(path, s.sessionState.newHadoopConf()).length
    require(out.inputFiles.length < total,
      s"bloom index pruned nothing: ${out.inputFiles.length} of $total files scanned")
    out
  }

  /** A29: aggregate pushdown through the v2 connector — the whole
    * GROUP BY is answered from parquet FOOTER statistics. The table is
    * written hive-partitioned; the query groups by the partition
    * column with COUNT(*)/COUNT(col)/MIN/MAX over double, decimal and
    * string measures, and the connector (SupportsPushDownAggregates,
    * GraftDataSource.scala) emits ONE pre-aggregated row per data
    * file from its footer — no row group is decompressed. Spark's
    * final aggregate merges per-file partials (min-of-mins,
    * sum-of-counts), so the answer is exact by construction. At
    * 100 TB this is the difference between a full table scan and a
    * listing-sized metadata pass — the SQL-transparent form of the
    * A25 stats table. A V2SourceSpec asserts the plan really carries
    * `pushedAggregates` and that filtered/unsupported shapes fall
    * back to the row path.
    */
  def srcV2AggPushdown(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.GraftSink
    val path = GraftSink.scratchDir + "/v2_orders_aggpd"
    cat(s, dir).table("orders")
      .withColumn("o_price_dec", col("o_totalprice").cast(DecimalType(18, 2)))
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    // provable types only: long keys + the decimal money column.
    // String and double min/max are deliberately NOT in this query —
    // their footer stats can be writer-truncated / NaN-polluted, so
    // the source declines them to the row path (spec-asserted).
    s.read.format("graft").load(path)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        count(col("o_custkey")).as("n_cust"),
        min(col("o_custkey")).as("mn_cust"),
        max(col("o_custkey")).as("mx_cust"),
        round(min(col("o_price_dec")).cast("double"), 2).as("mn_dec"),
        round(max(col("o_price_dec")).cast("double"), 2).as("mx_dec"))
      .orderBy("o_orderpriority")
  }

  /** A21: SQL-visible catalog — the table is opened BY NAME through
    * the DSv2 `TableCatalog` plugin (`graft.<db>.orders`), the analog
    * of the reference's metastore entry point (MetaUtils.java:25-82
    * opens `database.table` from job conf). The read routes through
    * the existing v2 GraftScan (row-group splits + footer-stats
    * pruning) against the namespace's pinned file-listing snapshot,
    * and the filter/aggregate run as ordinary Catalyst over it — the
    * whole query is one SQL string, as a metastore user would write
    * it.
    */
  def srcCatalogSqlScan(s: SparkSession, dir: String): DataFrame = {
    val f = new java.io.File(dir)
    // catalog instances cache per session, so the shared name 'graft'
    // would pin the FIRST root forever and error on any other — derive
    // the name from the root instead, so multi-sf sessions each get
    // their own catalog
    val name = graft.sources.v2.GraftTableCatalog.registerForRoot(s, f.getParent)
    s.sql(s"""
      SELECT o_orderstatus, count(*) AS n,
             min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             CAST(floor(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                        * 100.0 + 0.5) AS BIGINT) AS total_cents
      FROM $name.`${f.getName}`.orders
      WHERE o_orderkey % 3 = 0
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")
  }

  /** A21 (partitioned form): a hive-partitioned table opened BY NAME
    * through the SQL catalog — partition values re-attached per split
    * (the reference RecordReader's partition-define re-attachment,
    * ArgodbMapreduceRecordReader.java:182-201) and the partition
    * filter pruning whole files at plan time (the section-pruning
    * analog). The rewrite-then-read flow goes through `REFRESH TABLE`
    * exactly as it would against a metastore: the catalog drops the
    * table's pinned listing and re-pins the current files.
    */
  def srcCatalogPartitionedScan(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.sources.GraftSink.scratchDir + "/sqlwh"
    cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").partitionBy("o_orderstatus")
      .parquet(s"$wh/db/orders_part.parquet")
    graft.sources.v2.GraftTableCatalog.register(s, wh, "graftwh")
    s.sql("REFRESH TABLE graftwh.db.orders_part")
    s.sql("""
      SELECT o_orderstatus, count(*) AS n,
             CAST(floor(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                        * 100.0 + 0.5) AS BIGINT) AS total_cents
      FROM graftwh.db.orders_part
      WHERE o_orderstatus IN ('F', 'O')
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")
  }

  /** A23: live external-catalog JDBC round trip — the reference's
    * url+credentials metastore entry (MetaUtils.java:25-82 connects by
    * ARGODB_JDBC_URL/USER/PASSWORD, Configs.java:8-10), Spark-native:
    * the `spark.graft.jdbc.*` conf triple (embedded in-memory Derby
    * when unset — public, in-JVM, zero infrastructure). A graft table
    * is written through `DataFrame.write.jdbc` and read back with a
    * PARTITIONED stride read (4 key ranges → 4 concurrent
    * connections, the only JDBC shape that survives many executors;
    * the stride predicate is pushed into each connection's WHERE).
    * Full-ROW losslessness is the oracle: every column of every row
    * must hash-match the original parquet through the
    * write→SQL-database→read cycle (int64/int32/varchar/double all
    * round-trip bit-exact).
    */
  def srcJdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val url = graft.sources.GraftJdbc.url(s)
    val props = graft.sources.GraftJdbc.connectionProperties(s)
    cat(s, dir).table("supplier")
      .write.mode("overwrite").jdbc(url, "graft_supplier", props)
    s.read.jdbc(url, "graft_supplier",
        columnName = "s_suppkey", lowerBound = 1L, upperBound = 101L,
        numPartitions = 4, connectionProperties = props)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .orderBy("s_suppkey")
  }

  /** A10: multi-format source — CSV round trip: write a table to CSV
    * in the scratch warehouse, read it back with an explicit schema
    * (header on; Java double toString round-trips exactly), aggregate.
    */
  def srcCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val path = graft.sources.GraftSink.scratchDir + "/orders_csv"
    val orders = c.table("orders")
    orders.write.mode("overwrite")
      .option("header", "true").option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(path)
    s.read.schema(orders.schema)
      .option("header", "true").option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A11: ORC sink + typed read-back round trip — the third storage
    * format of the source layer (parquet native, CSV text, ORC
    * columnar). The aggregate of the read-back must equal the same
    * aggregate over the original parquet (that equality IS the
    * oracle: DuckDB computes it from parquet, so any ORC write/read
    * type mangling breaks the hash).
    */
  def srcOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val path = graft.sources.GraftSink.scratchDir + "/lineitem_orc"
    c.table("lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").orc(path)
    s.read.orc(path)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsumr(col("l_quantity")).as("sum_qty"),
        dsumr(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** A12: JSON-lines sink + schema'd read-back round trip — the text
    * format for interchange. Timestamps round-trip through an explicit
    * NTZ format; the oracle aggregates the original parquet, so the
    * hash match proves losslessness (same trick as A11).
    */
  def srcJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val path = graft.sources.GraftSink.scratchDir + "/customer_json"
    val customer = c.table("customer")
    customer.write.mode("overwrite").json(path)
    s.read.schema(customer.schema).json(path)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), dsumr(col("c_acctbal")).as("total_bal"),
        count_distinct(col("c_nationkey")).as("n_nations"))
      .orderBy("c_mktsegment")
  }

  /** A13: schema evolution — a partitioned table whose later files
    * carry an added column. `mergeSchema` unifies the layouts (old
    * files surface the new column as null), the analog of a
    * connector tolerating live table evolution mid-read. The split
    * is deterministic (orderkey parity), so the DuckDB oracle
    * reproduces the evolved view with union_by_name over the same
    * two projections of the original parquet.
    */
  def srcSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val path = graft.sources.GraftSink.scratchDir + "/orders_evolved"
    val orders = c.table("orders")
    // epoch 1: original schema (even orderkeys); epoch 2 adds a column
    orders.where(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(s"$path/epoch=1")
    orders.where(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$path/epoch=2")
    s.read.option("mergeSchema", "true").parquet(path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("n_pre_evolution"),
        count_distinct(col("o_orderpriority")).as("n_priorities"),
        dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A14: small-file compaction — the maintenance job every streamed-
    * into table needs: a fragmented partitioned layout (many tiny
    * files per partition, here forced with repartition(16) before the
    * write) is rewritten with one file per partition directory. The
    * returned accounting proves both sides of the contract: file
    * counts collapse (16× fewer, spec-asserted) and the data is
    * untouched — the oracle recomputes the same aggregate from the
    * ORIGINAL parquet, so any row lost in the rewrite breaks the
    * hash. At 100 TB this is `repartition(target)` per partition
    * window; the mechanics are identical.
    */
  def srcCompaction(s: SparkSession, dir: String): DataFrame = {
    val base = graft.sources.GraftSink.scratchDir
    val fragmented = s"$base/orders_fragmented"
    val compacted = s"$base/orders_compacted"
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    orders.repartition(16)
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(fragmented)
    // hash-repartition on the partition column: each status lands in
    // exactly one task → one file per directory, statuses written in
    // parallel (repartition(1) would serialize the whole rewrite).
    graft.sources.GraftIO.readParquet(s, fragmented)
      .repartition(col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(compacted)
    graft.sources.GraftIO.readParquet(s, compacted)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A16: incremental snapshot-diff read — the "process only what
    * arrived since the last run" pass every periodic 100 TB job
    * needs. Epoch 1 lands, a catalog pins it; epoch 2 is appended by
    * a writer; a fresh catalog's `diffTable` against the old one
    * reads EXACTLY the new files (parquet immutability makes the
    * file-set difference the data difference). The aggregate over the
    * increment must hash-match the oracle's epoch-2 predicate over
    * the source table — proving the diff caught all of epoch 2 and
    * none of epoch 1.
    */
  def srcSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.GraftSink.scratchDir + "/incdemo"
    val tbl = s"$root/orders.parquet"
    val orders = cat(s, dir).table("orders")
    // epoch 1: open orders (overwrite → clean, idempotent re-runs)
    orders.where(col("o_orderstatus") === "O")
      .write.mode("overwrite").parquet(tbl)
    val catOld = new GraftCatalog(s, root)
    // a writer commits epoch 2 mid-flight: finalized orders append
    orders.where(col("o_orderstatus") === "F")
      .write.mode("append").parquet(tbl)
    val catNew = new GraftCatalog(s, root)
    catNew.diffTable("orders", catOld)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A26: snapshot time-travel read — the "read the table AS OF the
    * pin before the bad write" every production user reaches for.
    * Epoch 1 lands and its pin is PUBLISHED as a numbered snapshot
    * (GraftCatalog.publishSnapshot — a durable file-listing manifest,
    * one O(files) metadata write); epoch 2 appends; a completely
    * fresh catalog (whose own pin sees BOTH epochs) reads
    * `tableAsOf(v1)` and must hash-match the oracle's epoch-1
    * predicate — proving the addressed snapshot, not the current
    * listing, drove the scan. The no-leak direction (post-pin
    * arrivals invisible) is also spec-asserted with both epochs
    * live.
    */
  def srcTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.GraftSink.scratchDir + "/ttdemo"
    val tbl = s"$root/orders.parquet"
    // idempotent re-runs: clear prior epochs AND the snapshot log
    val rp = new org.apache.hadoop.fs.Path(root)
    rp.getFileSystem(s.sessionState.newHadoopConf()).delete(rp, true)
    val orders = cat(s, dir).table("orders")
    orders.where(col("o_orderstatus") === "O")
      .write.mode("overwrite").parquet(tbl)
    val v1 = new GraftCatalog(s, root).publishSnapshot("orders")
    // the bad write: finalized orders land after the pin
    orders.where(col("o_orderstatus") === "F")
      .write.mode("append").parquet(tbl)
    new GraftCatalog(s, root).tableAsOf("orders", v1)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A35: durable multi-table tag (GraftCatalog.publishTag) — ONE
    * name pinning a consistent epoch of BOTH tables, from one
    * catalog's atomic pinAll view. Post-tag writes land in both
    * tables; the tagged join must see neither — a reader resolving
    * the tag gets the exact cross-table state the tagging job saw
    * (the reference's job-spanning multi-table transaction,
    * ArgodbMapreduceInputFormat.java:52-102, made durable and
    * addressable). Oracle = the same join over the pre-tag subsets.
    */
  def srcMultiTableTag(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.GraftSink.scratchDir + "/tagdemo"
    val rp = new org.apache.hadoop.fs.Path(root)
    rp.getFileSystem(s.sessionState.newHadoopConf()).delete(rp, true)
    val orders = cat(s, dir).table("orders")
    val lineitem = cat(s, dir).table("lineitem")
    orders.where(col("o_orderstatus") === "O")
      .write.mode("overwrite").parquet(s"$root/orders.parquet")
    lineitem.where(col("l_linenumber") === 1)
      .write.mode("overwrite").parquet(s"$root/lineitem.parquet")
    new GraftCatalog(s, root).publishTag("v1", Seq("orders", "lineitem"))
    // the bad writes: both tables move after the tag
    orders.where(col("o_orderstatus") === "F")
      .write.mode("append").parquet(s"$root/orders.parquet")
    lineitem.where(col("l_linenumber") === 2)
      .write.mode("append").parquet(s"$root/lineitem.parquet")
    val c2 = new GraftCatalog(s, root)
    val o = c2.tableAtTag("v1", "orders")
    val l = c2.tableAtTag("v1", "lineitem")
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("l_extendedprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A30: row-level change data feed. A copy-on-write MERGE (the A18
    * mutation: bumps, cross-partition moves, fresh inserts) runs with
    * WRITE-TIME change capture (GraftSink.mergeUpsertCdf) — the feed
    * must contain EXACTLY the true row deltas: updates as
    * delete+insert pairs, a moved row as a delete under its old
    * partition plus an insert under the new one, with every unchanged
    * row of the rewritten partitions cancelled. Capture happens while
    * the pre-image files still exist (a COW rewrite destroys them —
    * the same reason Delta/Iceberg produce CDF during the write); for
    * APPEND-ONLY epochs the manifest-diff path
    * (GraftCatalog.changesBetween) reconstructs the same feed after
    * the fact, spec-proved churn-proportional. Feed cost is
    * O(affected partitions), never O(table).
    */
  def srcChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.GraftSink.scratchDir + "/cdfdemo"
    val tbl = s"$root/orders.parquet"
    val rp = new org.apache.hadoop.fs.Path(root)
    rp.getFileSystem(s.sessionState.newHadoopConf()).delete(rp, true)
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(tbl)
    val priceBumps = orders
      .where(col("o_orderstatus") === "F" && col("o_orderkey") % 100 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
    val moves = orders
      .where(col("o_orderstatus") === "O" && col("o_orderkey") % 100 === 50)
      .withColumn("o_orderstatus", lit("F"))
    val inserts = s.range(3).select(
      (col("id") + 900000000L).as("o_orderkey"),
      lit(1L).as("o_custkey"),
      lit("F").as("o_orderstatus"),
      lit(42.5).as("o_totalprice"))
    graft.sources.GraftSink.mergeUpsertCdf(
      s, tbl, priceBumps.unionByName(moves).unionByName(inserts),
      Seq("o_orderkey"), "o_orderstatus")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "change_type")
      .orderBy("change_type", "o_orderkey", "o_orderstatus")
  }

  /** A27: snapshot retention + manifest-anchored vacuum — the cleanup
    * half of the time-travel story: two epochs land and are PUBLISHED
    * (v1, v2); a crashed/never-published writer then leaves orphan
    * files in the directory ('P' rows, in no manifest). `vacuum`
    * deletes exactly the unreferenced files — the read-back aggregate
    * through a FRESH catalog must hash-match an oracle over the
    * published epochs only ('O' + 'F'), proving the orphans are gone
    * and no published file was touched. Retention expiry and the
    * as-of reads surviving vacuum are spec-asserted.
    */
  def srcVacuum(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.GraftSink.scratchDir + "/vacdemo"
    val tbl = s"$root/orders.parquet"
    val rp = new org.apache.hadoop.fs.Path(root)
    rp.getFileSystem(s.sessionState.newHadoopConf()).delete(rp, true)
    val orders = cat(s, dir).table("orders")
    orders.where(col("o_orderstatus") === "O")
      .write.mode("overwrite").parquet(tbl)
    new GraftCatalog(s, root).publishSnapshot("orders")
    orders.where(col("o_orderstatus") === "F")
      .write.mode("append").parquet(tbl)
    new GraftCatalog(s, root).publishSnapshot("orders")
    // the crashed writer: files land, no snapshot is ever published
    orders.where(col("o_orderstatus") === "P")
      .write.mode("append").parquet(tbl)
    new GraftCatalog(s, root).vacuum("orders")
    new GraftCatalog(s, root).table("orders")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A38: write-audit-publish end to end — the staged-commit gate in
    * one flow: the base batch lands and passes the audit (first
    * publish audits everything), a DIRTY batch (every price negated)
    * is blocked by the named rule with the log untouched and its
    * files reclaimed by vacuum, then a clean batch passes and
    * publishes. The result reads the final published tip via
    * `tableAsOf` — the oracle hash-matching base+clean proves the
    * dirty rows never reached addressable history.
    */
  def srcWapPublish(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.GraftCatalog.AuditRule
    val root = graft.sources.GraftSink.scratchDir + "/wapdemo"
    val tbl = s"$root/orders.parquet"
    val rp = new org.apache.hadoop.fs.Path(root)
    rp.getFileSystem(s.sessionState.newHadoopConf()).delete(rp, true)
    val orders = cat(s, dir).table("orders")
    val rules = Seq(
      AuditRule("nonpositive_price", col("o_totalprice") <= 0.0),
      AuditRule("null_custkey", col("o_custkey").isNull))
    orders.where(col("o_orderstatus") === "O")
      .write.mode("overwrite").parquet(tbl)
    require(new GraftCatalog(s, root).publishAudited("orders", rules).isRight,
      "[GRAFT] base batch must pass the audit")
    orders.where(col("o_orderstatus") === "P")
      .withColumn("o_totalprice", -abs(col("o_totalprice")))
      .write.mode("append").parquet(tbl)
    val rejected = new GraftCatalog(s, root).publishAudited("orders", rules)
    require(rejected.isLeft, "[GRAFT] dirty batch must be blocked")
    require(rejected.swap.exists(q =>
      q.where(col("reasons").contains("nonpositive_price")).count() > 0),
      "[GRAFT] quarantine must name the fired rule")
    new GraftCatalog(s, root).vacuum("orders")
    orders.where(col("o_orderstatus") === "F")
      .write.mode("append").parquet(tbl)
    val v2 = new GraftCatalog(s, root).publishAudited("orders", rules)
      .getOrElse(throw new IllegalStateException(
        "[GRAFT] clean batch must land"))
    new GraftCatalog(s, root).tableAsOf("orders", v2)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A28: snapshot RESTORE — the bad write is UNDONE, not just
    * avoided: epoch 1 lands and is published; the bad epoch appends
    * and is published; `restoreSnapshot(v1)` deletes the post-pin
    * files and dangling manifests and republishes. The read-back is a
    * PLAIN table read through a fresh catalog — the oracle's epoch-1
    * predicate hash-matching it proves the restore physically put the
    * table back, not merely served an old view.
    */
  def srcRestore(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.GraftSink.scratchDir + "/restoredemo"
    val tbl = s"$root/orders.parquet"
    val rp = new org.apache.hadoop.fs.Path(root)
    rp.getFileSystem(s.sessionState.newHadoopConf()).delete(rp, true)
    val orders = cat(s, dir).table("orders")
    orders.where(col("o_orderstatus") === "O")
      .write.mode("overwrite").parquet(tbl)
    val v1 = new GraftCatalog(s, root).publishSnapshot("orders")
    orders.where(col("o_orderstatus") === "F")
      .write.mode("append").parquet(tbl)
    val c2 = new GraftCatalog(s, root)
    c2.publishSnapshot("orders")
    c2.restoreSnapshot("orders", v1)
    new GraftCatalog(s, root).table("orders")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A26 introspection: the snapshot LOG as a queryable table — per
    * published epoch, the exact row count that epoch pinned, answered
    * from the manifests + parquet FOOTERS only (A25's metadata-only
    * discipline: one footer read per manifest file, no data pages —
    * at 100 TB "what did each pin see" costs O(files) metadata IO).
    * Epochs append here, so the log shows cumulative coverage; the
    * oracle recomputes each epoch's predicate from the source table,
    * proving the manifests name exactly the right files.
    */
  def srcSnapshotLog(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2
    import s.implicits._
    val root = graft.sources.GraftSink.scratchDir + "/snaplogdemo"
    val tbl = s"$root/orders.parquet"
    val rp = new org.apache.hadoop.fs.Path(root)
    rp.getFileSystem(s.sessionState.newHadoopConf()).delete(rp, true)
    val orders = cat(s, dir).table("orders")
    orders.where(col("o_orderstatus") === "O")
      .write.mode("overwrite").parquet(tbl)
    new GraftCatalog(s, root).publishSnapshot("orders")
    orders.where(col("o_orderstatus") === "F")
      .write.mode("append").parquet(tbl)
    val c2 = new GraftCatalog(s, root)
    c2.publishSnapshot("orders")
    val entries = c2.snapshotIds("orders").flatMap(id =>
      c2.snapshotFilesAsOf("orders", id).map(f => (id, f)))
    val conf = v2.GraftV2.sessionConf()
    s.createDataset(entries)
      .mapPartitions { it =>
        it.map { case (id, path) =>
          var rows = 0L
          v2.GraftV2.withReader(path, conf.value) { r =>
            r.getFooter.getBlocks.forEach(b => rows += b.getRowCount)
          }
          (id, rows)
        }
      }
      .toDF("snapshot_id", "rows")
      .groupBy("snapshot_id").agg(sum("rows").as("n_rows"))
      .orderBy("snapshot_id")
  }

  /** A17: dynamic partition overwrite — the idempotent backfill: one
    * partition is rewritten in place (here the 'F' partition,
    * re-derived with a quality predicate) while sibling partitions
    * stay byte-identical. Static overwrite mode would TRUNCATE the
    * whole table first; `partitionOverwriteMode=dynamic` replaces
    * only partitions present in the incoming data — at 100 TB the
    * difference between a backfill touching one day and rewriting
    * the archive. The read-back aggregate hash-matches an oracle
    * combining untouched partitions with the re-derived one.
    */
  def srcDynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.GraftSink.scratchDir + "/orders_backfill"
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    orders.where(col("o_orderstatus") === "F" && col("o_totalprice") > 100)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderstatus").parquet(path)
    graft.sources.GraftIO.readParquet(s, path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A18: copy-on-write MERGE (upsert) — key-level mutation of a
    * partitioned table via GraftSink.mergeUpsert. The batch carries
    * all three merge shapes at once: in-place updates (price bump on
    * 'F' keys ≡ 0 mod 100), partition MOVES ('O' keys ≡ 50 mod 100
    * re-statused to 'F' — the stale 'O' copy must vanish), and
    * inserts (three fresh keys). The read-back aggregate must
    * hash-match an oracle that applies the same mutation in SQL —
    * proving update/move/insert all landed and nothing else changed.
    * The untouched-partition file-identity claim is spec-asserted.
    */
  def srcMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.GraftSink.scratchDir + "/orders_merge"
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    val priceBumps = orders
      .where(col("o_orderstatus") === "F" && col("o_orderkey") % 100 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
    val moves = orders
      .where(col("o_orderstatus") === "O" && col("o_orderkey") % 100 === 50)
      .withColumn("o_orderstatus", lit("F"))
    val inserts = s.range(3).select(
      (col("id") + 900000000L).as("o_orderkey"),
      lit(1L).as("o_custkey"),
      lit("F").as("o_orderstatus"),
      lit(42.5).as("o_totalprice"))
    graft.sources.GraftSink.mergeUpsert(
      s, path, priceBumps.unionByName(moves).unionByName(inserts),
      Seq("o_orderkey"), "o_orderstatus")
    graft.sources.GraftIO.readParquet(s, path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A19: copy-on-write key DELETE — the GDPR / retention-purge pass.
    * Two delete shapes at once: a selective delete ('F' keys ≡ 7 mod
    * 100, partition rewritten without them) and a full-partition
    * delete (every 'P' row — the partition must VANISH, which dynamic
    * overwrite alone cannot do; GraftSink.mergeDelete removes the
    * emptied directory explicitly). The read-back aggregate must
    * hash-match an oracle applying the same predicate, with no 'P'
    * group at all.
    */
  def srcMergeDelete(s: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.GraftSink.scratchDir + "/orders_delete"
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    val doomed = orders.where(
      col("o_orderstatus") === "P" ||
      (col("o_orderstatus") === "F" && col("o_orderkey") % 100 === 7))
    graft.sources.GraftSink.mergeDelete(
      s, path, doomed, Seq("o_orderkey"), "o_orderstatus")
    graft.sources.GraftIO.readParquet(s, path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A42: MERGE-ON-READ delete via deletion vectors
    * (GraftMor.morDelete/morDeleteKeys/morRead) — the mutation shape
    * COW can't afford: two small delete batches (a predicate sweep
    * and a GDPR-style key erasure, deliberately OVERLAPPING so the
    * already-tombstoned exclusion is exercised) land as row-coordinate
    * sidecars with ZERO data files rewritten; the merge-on-read scan
    * hides exactly those rows. The read-back aggregate must
    * hash-match an oracle applying both predicates — proving the
    * tombstones mask precisely the doomed rows and nothing else. The
    * no-file-rewritten and epoch-delta claims are spec-asserted
    * (MorSpec).
    */
  def srcMorDelete(s: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.GraftSink.scratchDir + "/orders_mor_del"
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.write.mode("overwrite").parquet(path)
    graft.sources.GraftMor.morDelete(s, path, col("o_totalprice") > 400000.0)
    graft.sources.GraftMor.morDeleteKeys(s, path,
      orders.where(col("o_orderkey") % 100 === 7), Seq("o_orderkey"))
    graft.sources.GraftMor.morRead(s, path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A44: EQUALITY delete (GraftMor.morErase) — the GDPR erasure
    * shape position deletes can't price: two erase epochs land as
    * KEY-set sidecars with ZERO table reads at write time (the
    * discovery scan is deferred to compaction), and the mask is
    * forward-looking — a straggler batch appended AFTER the erase
    * cannot resurrect an erased customer (appended row for an erased
    * key stays hidden; the appended row for a live key is served).
    * The read-back aggregate hash-matches an oracle applying both
    * key predicates over base + the served straggler.
    */
  def srcMorErase(s: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.GraftSink.scratchDir + "/orders_mor_er"
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.write.mode("overwrite").parquet(path)
    // two erase epochs on the same key columns (multi-epoch union,
    // deliberately overlapping where 97·113 divides a custkey); the
    // erase request is a KEY LIST — it need not match any current row
    // (custkey 97 itself may be absent at this SF; its straggler
    // below must still be masked)
    import s.implicits._
    graft.sources.GraftMor.morErase(s, path,
      orders.where(col("o_custkey") % 97 === 0).select("o_custkey")
        .unionByName(Seq(97L).toDF("o_custkey")),
      Seq("o_custkey"))
    graft.sources.GraftMor.morErase(s, path,
      orders.where(col("o_custkey") % 113 === 0).select("o_custkey"),
      Seq("o_custkey"))
    // the straggler: one row for an erased customer (custkey 97 —
    // masked by the forward-looking contract) + one for a live one
    Seq((900000000L, 97L, "F", 42.5), (900000001L, 1L, "F", 42.5))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.mode("append").parquet(path)
    graft.sources.GraftMor.morRead(s, path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A43: MERGE-ON-READ upsert — matched keys' current versions are
    * tombstoned and the new versions APPENDED, so a small update
    * batch costs two O(batch) writes instead of a partition rewrite.
    * Two generations of the same keys chain through: the second
    * batch's semi-join tombstones the rows the first batch appended
    * (keys ≡ 0 mod 200 end at +1001, the rest of ≡ 0 mod 100 at
    * +1000), plus three fresh inserts — update, re-update and insert
    * all proven by the oracle hash.
    */
  def srcMorUpsert(s: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.GraftSink.scratchDir + "/orders_mor_up"
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.write.mode("overwrite").parquet(path)
    val bumps = orders.where(col("o_orderkey") % 100 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
    val inserts = s.range(3).select(
      (col("id") + 900000000L).as("o_orderkey"),
      lit(1L).as("o_custkey"),
      lit("F").as("o_orderstatus"),
      lit(42.5).as("o_totalprice"))
    graft.sources.GraftMor.morUpsert(
      s, path, bumps.unionByName(inserts), Seq("o_orderkey"))
    // the re-update derives from the ORIGINAL price (+1001 in one
    // step): (x+1000)+1 and x+1001 differ in double ULPs, and the
    // oracle computes the latter
    graft.sources.GraftMor.morUpsert(
      s, path, orders.where(col("o_orderkey") % 200 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1001.0)),
      Seq("o_orderkey"))
    graft.sources.GraftMor.morRead(s, path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A45: SEQUENCE-NUMBERED equality upsert — the Flink-CDC write
    * shape: each batch writes a key tombstone at the commit sequence
    * plus manifest-sequenced appends, reading ZERO table bytes (A43's
    * position upsert pays a discovery scan per batch). The ladder
    * proves the Iceberg-v2 sequence rule end to end: two chained
    * generations (the second's higher sequence masks the first's
    * appended versions), three fresh inserts, an A44 erase whose
    * infinite sequence outranks a LATER upsert's resurrection attempt
    * (those appended rows stay masked), all against one oracle hash.
    */
  def srcMorUpsertEq(s: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.GraftSink.scratchDir + "/orders_mor_ueq"
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.write.mode("overwrite").parquet(path)
    val inserts = s.range(3).select(
      (col("id") + 900000000L).as("o_orderkey"),
      lit(1L).as("o_custkey"),
      lit("F").as("o_orderstatus"),
      lit(42.5).as("o_totalprice"))
    // gen 1: bump keys ≡ 0 mod 100 (+1000) and insert three rows
    graft.sources.GraftMor.morUpsertEq(s, path,
      orders.where(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .unionByName(inserts),
      Seq("o_orderkey"))
    // GDPR erase: keys ≡ 500 mod 1000 — infinite sequence
    graft.sources.GraftMor.morErase(s, path,
      orders.where(col("o_orderkey") % 1000 === 500).select("o_orderkey"),
      Seq("o_orderkey"))
    // gen 2: re-bump keys ≡ 0 mod 200 from the ORIGINAL price (+1001
    // in one step — (x+1000)+1 differs in double ULPs), and attempt
    // to resurrect the erased keys: their appended rows stay masked
    graft.sources.GraftMor.morUpsertEq(s, path,
      orders.where(col("o_orderkey") % 200 === 0 ||
                   col("o_orderkey") % 1000 === 500)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1001.0)),
      Seq("o_orderkey"))
    graft.sources.GraftMor.morRead(s, path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A42 (compaction leg): the deferred rewrite — tombstones folded
    * into ONLY the files they touch (affected-file COW at file grain,
    * untouched files byte-identical — spec-asserted), sidecar
    * cleared, after which the merge-on-read scan is a plain scan
    * again. Same oracle shape as the delete: compact must change
    * WHERE the survivors live, never WHAT they are.
    */
  def srcMorCompact(s: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.GraftSink.scratchDir + "/orders_mor_cp"
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.repartitionByRange(8, col("o_orderkey"))
      .write.mode("overwrite").parquet(path)
    graft.sources.GraftMor.morDelete(s, path, col("o_orderkey") % 10 === 3)
    graft.sources.GraftMor.morCompact(s, path)
    graft.sources.GraftMor.morRead(s, path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A42-A45 (SQL serving leg): a MERGE-ON-READ mutated table read BY
    * NAME through the DSv2 SQL catalog — `SELECT ... FROM graft.db.t`
    * must hash-match `morRead` on EVERY mutation flavor at once (the
    * reference's single-entry snapshot-consistent read contract,
    * ArgodbMapreduceInputFormat.java:52-102: however a table is
    * opened, it serves ONE answer). The full ladder lands before the
    * read: a position UPSERT (tombstone + append) and a predicate
    * DELETE (both `_dv` — applied SPLIT-LOCALLY by the v2 reader as
    * sorted row-index slices, the Iceberg deletion-vector shape), a
    * SEQUENCE-NUMBERED equality upsert (`_eq` + `_seqm` — the reader
    * masks by a capped key→sequence map under the Iceberg-v2 rule:
    * the tombstone hides a key's rows only in files with a LOWER
    * commit sequence, so the batch's own appends serve), and a GDPR
    * ERASE (sequence ∞ — masks the key everywhere, forever). The SQL
    * read pays NO join for any of it. REFRESH TABLE re-pins files
    * and sidecar epochs together.
    */
  def srcMorSqlRead(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.sources.GraftSink.scratchDir + "/morsql"
    val path = s"$wh/db/orders_msql.parquet"
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.repartitionByRange(4, col("o_orderkey"))
      .write.mode("overwrite").parquet(path)
    val inserts = s.range(3).select(
      (col("id") + 900000000L).as("o_orderkey"),
      lit(1L).as("o_custkey"),
      lit("F").as("o_orderstatus"),
      lit(42.5).as("o_totalprice"))
    // position flavor: one upsert generation + a predicate delete
    graft.sources.GraftMor.morUpsert(s, path,
      orders.where(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .unionByName(inserts),
      Seq("o_orderkey"))
    graft.sources.GraftMor.morDelete(s, path, col("o_orderkey") % 10 === 3)
    // equality flavor: a sequence-numbered generation superseding the
    // position-upserted versions (+1001 from the ORIGINAL price), then
    // a GDPR erase at infinite sequence
    graft.sources.GraftMor.morUpsertEq(s, path,
      orders.where(col("o_orderkey") % 200 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1001.0)),
      Seq("o_orderkey"))
    graft.sources.GraftMor.morErase(s, path,
      orders.where(col("o_orderkey") % 1000 === 500).select("o_orderkey"),
      Seq("o_orderkey"))
    graft.sources.v2.GraftTableCatalog.register(s, wh, "graftmor")
    s.sql("REFRESH TABLE graftmor.db.orders_msql")
    s.sql("""
      SELECT o_orderstatus, count(*) AS n,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 2) AS total
      FROM graftmor.db.orders_msql
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")
  }

  /** A54: time travel × merge-on-read — `publishSnapshot` pins the
    * table STATE (data files + the `_dv`/`_eq`/`_seqm` sidecar
    * listings), so `tableAsOf` of an epoch published AFTER a
    * morDelete/morUpsert serves the post-mutation state with the
    * masks composed AS OF the publish, while mutations landing AFTER
    * the publish stay invisible (and GDPR erases, retroactive by
    * contract, mask history regardless). The reference's snapshot
    * transaction is of the TABLE STATE, not the file set
    * (ArgodbMapreduceInputFormat.java:257-279). Here generation 1
    * (predicate delete + priced-up upsert) is captured by the epoch;
    * a second delete lands after the publish and must not leak in.
    */
  def srcMorTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.GraftSink.scratchDir + "/mor_tt"
    val path = s"$root/orders_tt.parquet"
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    f.delete(new org.apache.hadoop.fs.Path(root), true)
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.repartitionByRange(4, col("o_orderkey"))
      .write.mode("overwrite").parquet(path)
    graft.sources.GraftMor.morDelete(s, path, col("o_orderkey") % 10 === 3)
    graft.sources.GraftMor.morUpsert(s, path,
      orders.where(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
      Seq("o_orderkey"))
    val epoch = new graft.sources.GraftCatalog(s, root)
      .publishSnapshot("orders_tt")
    // generation 2, AFTER the publish: invisible to the epoch read
    graft.sources.GraftMor.morDelete(s, path, col("o_orderkey") % 10 === 4)
    new graft.sources.GraftCatalog(s, root).tableAsOf("orders_tt", epoch)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A60: MATERIALIZED export of a masked epoch — the sharing handoff
    * `exportSnapshot` refuses (a foreign parquet reader applies no
    * masks): the epoch's mask-APPLIED state rewrites into the export
    * dir (one COW pass, the table untouched) and the manifest lists
    * the materialized files. The aggregate here reads EXACTLY the
    * returned file list with a plain `spark.read.parquet` — the
    * foreign-reader contract — and must hash-match the oracle applying
    * generation-1 mutations only (the post-publish delete stays
    * invisible, as in A54).
    */
  def srcExportMaterial(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.GraftSink.scratchDir + "/mor_exm"
    val path = s"$root/orders_exm.parquet"
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    f.delete(new org.apache.hadoop.fs.Path(root), true)
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.repartitionByRange(4, col("o_orderkey"))
      .write.mode("overwrite").parquet(path)
    graft.sources.GraftMor.morDelete(s, path, col("o_orderkey") % 10 === 3)
    graft.sources.GraftMor.morUpsert(s, path,
      orders.where(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
      Seq("o_orderkey"))
    val epoch = new graft.sources.GraftCatalog(s, root)
      .publishSnapshot("orders_exm")
    // post-publish mutation: must not leak into the epoch's export
    graft.sources.GraftMor.morDelete(s, path, col("o_orderkey") % 10 === 4)
    val files = new graft.sources.GraftCatalog(s, root)
      .exportSnapshotMaterialized("orders_exm", epoch, s"$root/export")
    // FOREIGN-reader semantics: plain parquet over exactly the listed
    // files, zero graft code
    s.read.parquet(files: _*)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A55: SQL row-level DML — DELETE / UPDATE / MERGE INTO on a
    * catalog table, served merge-on-read: a translatable DELETE takes
    * the metadata-only path (`SupportsDelete` → one tombstone epoch),
    * non-translatable predicates, UPDATE and MERGE rewrite as a
    * position DELTA against the (`_file`,`_pos`) row ID
    * (`SupportsRowLevelOperations`+`SupportsDelta` — the Iceberg
    * shape), appending O(churn) coordinate + version files and
    * rewriting NOTHING. The read-back aggregate hash-matches an
    * oracle applying the same mutations in SQL — and the served
    * state equals `morRead` (spec-asserted), so SQL DML and the
    * Scala mutation APIs are one surface.
    */
  def srcMorSqlDml(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.sources.GraftSink.scratchDir + "/morsqldml"
    val path = s"$wh/db/orders_dml.parquet"
    val f = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sessionState.newHadoopConf())
    f.delete(new org.apache.hadoop.fs.Path(wh), true)
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.repartitionByRange(4, col("o_orderkey"))
      .write.mode("overwrite").parquet(path)
    graft.sources.v2.GraftTableCatalog.register(s, wh, "graftdml")
    s.sql("REFRESH TABLE graftdml.db.orders_dml")
    // row-level delta DELETE (modulo predicates don't translate to
    // source filters, so this exercises the WriteDelta path)
    s.sql("DELETE FROM graftdml.db.orders_dml WHERE o_orderkey % 10 = 3")
    s.sql("REFRESH TABLE graftdml.db.orders_dml")
    // UPDATE = per-row delete + appended new version
    s.sql("UPDATE graftdml.db.orders_dml SET o_totalprice = " +
      "o_totalprice + 1000.0 WHERE o_orderkey % 100 = 0")
    s.sql("REFRESH TABLE graftdml.db.orders_dml")
    // MERGE INTO: three not-matched inserts
    s.sql("""
      MERGE INTO graftdml.db.orders_dml t
      USING (SELECT id + 900000000 AS o_orderkey, 1 AS o_custkey,
                    'F' AS o_orderstatus, 42.5 AS o_totalprice
             FROM range(3)) src
      ON t.o_orderkey = src.o_orderkey
      WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
        o_totalprice) VALUES (src.o_orderkey, src.o_custkey,
        src.o_orderstatus, src.o_totalprice)""")
    s.sql("REFRESH TABLE graftdml.db.orders_dml")
    // MERGE breadth (r13 VERDICT #6): conditional matched-DELETE +
    // matched-UPDATE + not-matched INSERT in ONE statement — source
    // keys %500=100 all exist, splitting into deletes (%1000=100) and
    // +7 updates (%1000=600); one fresh key inserts
    orders.where(col("o_orderkey") % 500 === 100).select("o_orderkey")
      .createOrReplaceTempView("dml_merge_keys")
    s.sql("""
      MERGE INTO graftdml.db.orders_dml t
      USING (SELECT o_orderkey, 1 AS o_custkey, 'F' AS o_orderstatus,
                    CAST(10.0 AS DOUBLE) AS o_totalprice
             FROM dml_merge_keys
             UNION ALL
             SELECT 910000000, 1, 'F', CAST(99.5 AS DOUBLE)) src
      ON t.o_orderkey = src.o_orderkey
      WHEN MATCHED AND t.o_orderkey % 1000 = 100 THEN DELETE
      WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + 7.0
      WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
        o_totalprice) VALUES (src.o_orderkey, src.o_custkey,
        src.o_orderstatus, src.o_totalprice)""")
    s.sql("REFRESH TABLE graftdml.db.orders_dml")
    s.sql("""
      SELECT o_orderstatus, count(*) AS n,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 2) AS total
      FROM graftdml.db.orders_dml
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")
  }

  /** A58: SQL DDL round trip — `CREATE NAMESPACE` + CTAS through the
    * catalog: the table is created from the declared schema markers
    * and filled by the same A38-gated INSERT write every SQL write
    * rides, then read back through the v2 scan. The aggregate must
    * hash-match the oracle applying the CTAS predicate directly — so
    * the created table's contents, types and the gate's publish are
    * all value-checked.
    */
  def srcSqlDdl(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.sources.GraftSink.scratchDir + "/sqlddl_q"
    val f = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sessionState.newHadoopConf())
    f.mkdirs(new org.apache.hadoop.fs.Path(wh))
    graft.sources.v2.GraftTableCatalog.register(s, wh, "graftddlq")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftddlq.db")
    s.sql("DROP TABLE IF EXISTS graftddlq.db.orders_ctas")
    cat(s, dir).table("orders").createOrReplaceTempView("orders_src_ddl")
    s.sql("""
      CREATE TABLE graftddlq.db.orders_ctas AS
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders_src_ddl WHERE o_orderkey % 2 = 0""")
    s.sql("REFRESH TABLE graftddlq.db.orders_ctas")
    s.sql("""
      SELECT o_orderstatus, count(*) AS n,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 2) AS total
      FROM graftddlq.db.orders_ctas
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")
  }

  /** A61: ALTER TABLE DROP/RENAME COLUMN as a declared rewrite — the
    * CTAS-created table drops one column (bytes physically leave) and
    * renames another, then the read-back aggregate must hash-match the
    * oracle computing the same thing straight off the source rows: the
    * rewrite changed declaration and layout, never a value.
    */
  def srcSqlAlterRewrite(s: SparkSession, dir: String): DataFrame = {
    // clean up THROUGH the catalog (DROP TABLE IF EXISTS), never by
    // deleting the warehouse behind its back: the catalog memoizes
    // loadTable per session, so an out-of-band fs delete leaves a
    // stale entry that makes the re-CREATE see a live table
    val wh = graft.sources.GraftSink.scratchDir + "/sqlalter_q"
    val f = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sessionState.newHadoopConf())
    f.mkdirs(new org.apache.hadoop.fs.Path(wh))
    graft.sources.v2.GraftTableCatalog.register(s, wh, "graftaltq")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftaltq.db")
    s.sql("DROP TABLE IF EXISTS graftaltq.db.orders_alt")
    cat(s, dir).table("orders").createOrReplaceTempView("orders_src_alter")
    s.sql("""
      CREATE TABLE graftaltq.db.orders_alt AS
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders_src_alter WHERE o_orderkey % 2 = 0""")
    s.sql("REFRESH TABLE graftaltq.db.orders_alt")
    s.sql("ALTER TABLE graftaltq.db.orders_alt DROP COLUMN o_custkey")
    s.sql("ALTER TABLE graftaltq.db.orders_alt RENAME COLUMN " +
      "o_totalprice TO price")
    s.sql("REFRESH TABLE graftaltq.db.orders_alt")
    s.sql("""
      SELECT o_orderstatus, count(*) AS n,
             round(CAST(sum(CAST(price AS DECIMAL(28,6))) AS DOUBLE), 2) AS total
      FROM graftaltq.db.orders_alt
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")
  }

  /** A62: declared Z-order layout honored by SQL inserts — the table
    * is CREATEd with `TBLPROPERTIES ('layout'='zorder(a,b)')`, filled
    * through the ordinary gated INSERT (which range-partitions + sorts
    * every batch on the Morton interleave before staging), and read
    * back with a band filter on ONE of the interleaved keys. The
    * aggregate must hash-match the oracle over the source rows — the
    * clustering is pure physical layout, never a value change — while
    * the V2SourceSpec ladder asserts the payoff: row-group pruning on
    * BOTH dimensions through the v2 scan's footer stats.
    */
  def srcSqlLayout(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.sources.GraftSink.scratchDir + "/sqllayout_q"
    val f = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sessionState.newHadoopConf())
    f.mkdirs(new org.apache.hadoop.fs.Path(wh))
    graft.sources.v2.GraftTableCatalog.register(s, wh, "graftlayq")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftlayq.db")
    s.sql("DROP TABLE IF EXISTS graftlayq.db.orders_z")
    cat(s, dir).table("orders").createOrReplaceTempView("orders_src_layout")
    s.sql("""
      CREATE TABLE graftlayq.db.orders_z (
        o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
        o_totalprice DOUBLE)
      TBLPROPERTIES ('layout'='zorder(o_custkey,o_orderkey)')""")
    s.sql("""
      INSERT INTO graftlayq.db.orders_z
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders_src_layout""")
    s.sql("REFRESH TABLE graftlayq.db.orders_z")
    s.sql("""
      SELECT o_orderstatus, count(*) AS n,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 2) AS total
      FROM graftlayq.db.orders_z
      WHERE o_custkey BETWEEN 100 AND 199
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")
  }

  /** Declared-layout breadth, timestamp arm: `zorder(user_id, ts)` —
    * the (tenant, time) clustering real event tables need. TIMESTAMP
    * keys interleave through their epoch-micros map (monotone, so
    * clustering semantics are exactly the BIGINT ones); row-group
    * footer stats then stay narrow on BOTH the id and the time
    * dimension, and a band query on either prunes without a
    * compaction pass. Values must hash-match the plain oracle scan —
    * layout is physical, never semantic.
    */
  def srcSqlLayoutTs(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.sources.GraftSink.scratchDir + "/sqllayout_ts_q"
    val f = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sessionState.newHadoopConf())
    f.mkdirs(new org.apache.hadoop.fs.Path(wh))
    graft.sources.v2.GraftTableCatalog.register(s, wh, "graftlaytsq")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftlaytsq.db")
    s.sql("DROP TABLE IF EXISTS graftlaytsq.db.events_z")
    cat(s, dir).table("events").createOrReplaceTempView("events_src_layout")
    s.sql("""
      CREATE TABLE graftlaytsq.db.events_z (
        event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,
        event_type STRING, value DOUBLE)
      TBLPROPERTIES ('layout'='zorder(user_id,ts)')""")
    s.sql("""
      INSERT INTO graftlaytsq.db.events_z
      SELECT event_id, ts, user_id, event_type, value
      FROM events_src_layout""")
    s.sql("REFRESH TABLE graftlaytsq.db.events_z")
    s.sql("""
      SELECT event_type, count(*) AS n,
             round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 2) AS total
      FROM graftlaytsq.db.events_z
      WHERE user_id BETWEEN 100 AND 299
      GROUP BY event_type
      ORDER BY event_type""")
  }

  /** A62 breadth (r15 late): a STRING zorder key — o_orderpriority
    * maps through its zero-padded 7-byte UTF-8 prefix (monotone wrt
    * both Spark's string order and parquet binary min/max), so the
    * priority-band filter prunes row groups on the clustered footer
    * stats (pruning spec'd in V2SourceSpec); values hash-match the
    * oracle over the raw table.
    */
  def srcSqlLayoutStr(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.sources.GraftSink.scratchDir + "/sqllayout_str_q"
    val f = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sessionState.newHadoopConf())
    f.mkdirs(new org.apache.hadoop.fs.Path(wh))
    graft.sources.v2.GraftTableCatalog.register(s, wh, "graftlaysq")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftlaysq.db")
    s.sql("DROP TABLE IF EXISTS graftlaysq.db.orders_z")
    cat(s, dir).table("orders").createOrReplaceTempView("orders_src_zs")
    s.sql("""
      CREATE TABLE graftlaysq.db.orders_z (
        o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
        o_totalprice DOUBLE, o_orderpriority STRING)
      TBLPROPERTIES ('layout'='zorder(o_orderpriority,o_orderkey)')""")
    s.sql("""
      INSERT INTO graftlaysq.db.orders_z
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderpriority
      FROM orders_src_zs""")
    s.sql("REFRESH TABLE graftlaysq.db.orders_z")
    s.sql("""
      SELECT o_orderpriority, count(*) AS n,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 2) AS total
      FROM graftlaysq.db.orders_z
      WHERE o_orderpriority BETWEEN '1-URGENT' AND '2-HIGH'
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")
  }

  /** A65 breadth: TWO-column bucket keys — the composite-key
    * co-location fact tables need (a split column-family re-join on
    * (l_orderkey, l_linenumber) here). The insert hash-buckets on
    * `hash(k1, k2)` (Spark's own multi-column HashPartitioning fold),
    * both scans report per-column `bucket(4, k)` KeyGroupedPartitioning (a 16-cell grid),
    * and the storage-partitioned join plans with zero join-input
    * exchange. Values hash-match the oracle's plain join.
    */
  def srcSqlBucketJoinMulti(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.sources.GraftSink.scratchDir + "/sqlbucketm_q"
    val f = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sessionState.newHadoopConf())
    f.mkdirs(new org.apache.hadoop.fs.Path(wh))
    graft.sources.v2.GraftTableCatalog.register(s, wh, "graftbkmq")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftbkmq.db")
    s.sql("DROP TABLE IF EXISTS graftbkmq.db.li_qty")
    s.sql("DROP TABLE IF EXISTS graftbkmq.db.li_price")
    cat(s, dir).table("lineitem").createOrReplaceTempView("lineitem_src_bkm")
    s.sql("""
      CREATE TABLE graftbkmq.db.li_qty (
        l_orderkey BIGINT, l_linenumber BIGINT, l_quantity DOUBLE)
      TBLPROPERTIES ('layout'='bucket(l_orderkey,l_linenumber,4)')""")
    s.sql("""
      CREATE TABLE graftbkmq.db.li_price (
        l_orderkey BIGINT, l_linenumber BIGINT, l_extendedprice DOUBLE)
      TBLPROPERTIES ('layout'='bucket(l_orderkey,l_linenumber,4)')""")
    s.sql("""
      INSERT INTO graftbkmq.db.li_qty
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT), l_quantity
      FROM lineitem_src_bkm""")
    s.sql("""
      INSERT INTO graftbkmq.db.li_price
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT), l_extendedprice
      FROM lineitem_src_bkm""")
    s.sql("REFRESH TABLE graftbkmq.db.li_qty")
    s.sql("REFRESH TABLE graftbkmq.db.li_price")
    val prev = s.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      s.sql("""
        SELECT count(*) AS n,
               round(CAST(sum(CAST(q.l_quantity AS BIGINT) * CAST(p.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS total
        FROM graftbkmq.db.li_qty q
        JOIN graftbkmq.db.li_price p
          ON q.l_orderkey = p.l_orderkey AND q.l_linenumber = p.l_linenumber""")
        .localCheckpoint(true)
    } finally s.conf.set("spark.sql.sources.v2.bucketing.enabled", prev)
  }

  /** A65: declared bucket layout + storage-partitioned join — both
    * tables are CREATEd with `'layout'='bucket(key,8)'`, filled
    * through the gated INSERT (which hash-buckets every batch into
    * `bucket=N/` dirs with the engine's V2 bucket function), and
    * joined on the bucket key THROUGH the catalog with
    * `spark.sql.sources.v2.bucketing.enabled`: Spark plans the join
    * from the two scans' reported `KeyGroupedPartitioning` with ZERO
    * join-input exchange — co-located like Hive bucketed tables, but
    * declared in DDL and honored by every insert. At 100 TB the join's
    * shuffle (the dominant cost of fact-fact joins) simply never
    * happens. The aggregate must hash-match the oracle's plain join —
    * co-location is physical layout, never a value change.
    */
  def srcSqlBucketJoin(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.sources.GraftSink.scratchDir + "/sqlbucket_q"
    val f = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sessionState.newHadoopConf())
    f.mkdirs(new org.apache.hadoop.fs.Path(wh))
    graft.sources.v2.GraftTableCatalog.register(s, wh, "graftbktq")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftbktq.db")
    s.sql("DROP TABLE IF EXISTS graftbktq.db.orders_b")
    s.sql("DROP TABLE IF EXISTS graftbktq.db.customer_b")
    cat(s, dir).table("orders").createOrReplaceTempView("orders_src_bkt")
    cat(s, dir).table("customer").createOrReplaceTempView("customer_src_bkt")
    s.sql("""
      CREATE TABLE graftbktq.db.orders_b (
        o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
      TBLPROPERTIES ('layout'='bucket(o_custkey,8)')""")
    s.sql("""
      CREATE TABLE graftbktq.db.customer_b (
        c_custkey BIGINT, c_mktsegment STRING)
      TBLPROPERTIES ('layout'='bucket(c_custkey,8)')""")
    s.sql("""
      INSERT INTO graftbktq.db.orders_b
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders_src_bkt""")
    s.sql("""
      INSERT INTO graftbktq.db.customer_b
      SELECT c_custkey, c_mktsegment FROM customer_src_bkt""")
    s.sql("REFRESH TABLE graftbktq.db.orders_b")
    s.sql("REFRESH TABLE graftbktq.db.customer_b")
    val prev = s.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      // materialize UNDER the SPJ conf so the zero-exchange plan is
      // what actually runs; the returned frame is the tiny result
      val out = s.sql("""
        SELECT c.c_mktsegment, count(*) AS n,
               round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 2) AS total
        FROM graftbktq.db.orders_b o
        JOIN graftbktq.db.customer_b c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment""").localCheckpoint(true)
      out
    } finally s.conf.set("spark.sql.sources.v2.bucketing.enabled", prev)
  }

  /** Stats-driven SQL join planning: two graft-catalog tables joined
    * with NO hint and NO SPJ layout — the v2 scan's
    * `SupportsReportStatistics` (listing bytes + footer row counts)
    * is what lets Spark see that the dimension side is ~KBs and plan
    * a BroadcastHashJoin instead of shuffling the fact side. Without
    * reported stats a DSv2 relation plans at
    * `spark.sql.defaultSizeInBytes` (Long.MaxValue) and a 1 MB dim
    * NEVER auto-broadcasts — at 100 TB that is a full fact-table
    * sort-merge shuffle paid on every dim join. (The V2SourceSpec arm
    * asserts the BroadcastHashJoin plan; this query verifies values.)
    */
  def srcSqlJoinBroadcast(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.sources.GraftSink.scratchDir + "/sqlbcast_q"
    val f = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sessionState.newHadoopConf())
    f.mkdirs(new org.apache.hadoop.fs.Path(wh))
    graft.sources.v2.GraftTableCatalog.register(s, wh, "graftbcq")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftbcq.db")
    s.sql("DROP TABLE IF EXISTS graftbcq.db.customer_bc")
    s.sql("DROP TABLE IF EXISTS graftbcq.db.nation_bc")
    cat(s, dir).table("customer").createOrReplaceTempView("customer_src_bc")
    cat(s, dir).table("nation").createOrReplaceTempView("nation_src_bc")
    s.sql("""
      CREATE TABLE graftbcq.db.customer_bc (
        c_custkey BIGINT, c_nationkey BIGINT, c_acctbal DOUBLE)""")
    s.sql("""
      CREATE TABLE graftbcq.db.nation_bc (n_nationkey BIGINT, n_name STRING)""")
    s.sql("""
      INSERT INTO graftbcq.db.customer_bc
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer_src_bc""")
    s.sql("""
      INSERT INTO graftbcq.db.nation_bc
      SELECT n_nationkey, n_name FROM nation_src_bc""")
    s.sql("REFRESH TABLE graftbcq.db.customer_bc")
    s.sql("REFRESH TABLE graftbcq.db.nation_bc")
    s.sql("""
      SELECT n.n_name, count(*) AS n_cust,
             round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(28,6))) AS DOUBLE), 2) AS total_bal
      FROM graftbcq.db.customer_bc c
      JOIN graftbcq.db.nation_bc n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
      ORDER BY n.n_name""").localCheckpoint(true)
  }

  /** A46: mutation-aware incremental aggregate maintenance — A20's
    * refresh-from-the-diff discipline on a MUTATING merge-on-read
    * table: the summary is built once, then two refreshes each apply
    * only the churn (new tombstone epochs' doomed rows subtract via a
    * coordinate semi-join over the tombstones' own files; appended
    * files' partials add) — the base table is never rescanned after
    * the build. Final summary must hash-match the full recompute over
    * the mutated state: delete, upsert (tombstone + append) and a
    * second delete all folded incrementally.
    */
  def srcMorIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.GraftSink.scratchDir + "/orders_mor_ia"
    val path = s"$root/t"
    val summary = s"$root/summary"
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    f.delete(new org.apache.hadoop.fs.Path(root), true)
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.repartitionByRange(4, col("o_orderkey"))
      .write.mode("overwrite").parquet(path)
    def partial(df: DataFrame): DataFrame = df
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(28, 6))).as("total_d"))
    graft.sources.GraftMor.morIncrementalAgg(
      s, path, summary, Seq("o_orderstatus"), partial)     // build
    graft.sources.GraftMor.morDelete(s, path, col("o_orderkey") % 10 === 3)
    graft.sources.GraftMor.morUpsert(s, path,
      orders.where(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
      Seq("o_orderkey"))
    graft.sources.GraftMor.morIncrementalAgg(
      s, path, summary, Seq("o_orderstatus"), partial)     // refresh 1
    graft.sources.GraftMor.morDeleteKeys(s, path,
      orders.where(col("o_orderkey") % 100 === 7), Seq("o_orderkey"))
    graft.sources.GraftMor.morIncrementalAgg(
      s, path, summary, Seq("o_orderstatus"), partial)     // refresh 2
      .select(col("o_orderstatus"), col("n"),
        round(col("total_d").cast("double"), 2).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A49: outbound MOR change feed — the same mutation ladder as A46
    * (delete, upsert, delete), but the DOWNSTREAM folds the published
    * segments ALONE: three `publishMorFeed` calls (snapshot + two
    * deltas) and a signed-delta rollup over `readMorFeed` must equal
    * the full recompute over the mutated table — proving the feed
    * carries exactly the churn, with the same shared oracle.
    */
  def srcMorChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.GraftSink.scratchDir + "/orders_mor_feed"
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    f.delete(new org.apache.hadoop.fs.Path(root), true)
    val path = s"$root/t"
    val feed = s"$root/feed"
    val orders = cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.repartitionByRange(4, col("o_orderkey"))
      .write.mode("overwrite").parquet(path)
    graft.sources.GraftMor.publishMorFeed(s, path, feed)     // snapshot
    graft.sources.GraftMor.morDelete(s, path, col("o_orderkey") % 10 === 3)
    graft.sources.GraftMor.morUpsert(s, path,
      orders.where(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
      Seq("o_orderkey"))
    graft.sources.GraftMor.publishMorFeed(s, path, feed)     // delta 1
    graft.sources.GraftMor.morDeleteKeys(s, path,
      orders.where(col("o_orderkey") % 100 === 7), Seq("o_orderkey"))
    val tip = graft.sources.GraftMor.publishMorFeed(s, path, feed) // delta 2
    val signed = when(col("change_type") === "I", lit(1L)).otherwise(lit(-1L))
    graft.sources.GraftMor.readMorFeed(s, feed, -1L, tip)
      .groupBy("o_orderstatus")
      .agg(sum(signed).as("n"),
        round(sum(col("o_totalprice").cast(DecimalType(28, 6)) *
          signed.cast(DecimalType(28, 6))).cast("double"), 2).as("total"))
      .where(col("n") =!= 0L)
      .orderBy("o_orderstatus")
  }

  /** A48: footer-pruned retention delete — files wholly past the
    * cutoff unlink with ZERO rows read (parquet stats decide), the
    * straddling files' old rows tombstone with a scoped scan, and the
    * merge-on-read scan serves exactly the retained corpus — the
    * nightly "expire older than N" sweep priced by metadata.
    */
  def srcRetentionSweep(s: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.GraftSink.scratchDir + "/orders_retention"
    cat(s, dir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate")
      .repartitionByRange(8, col("o_orderdate"))
      .write.mode("overwrite").parquet(path)
    graft.sources.GraftMor.retentionSweep(s, path, "o_orderdate",
      java.time.LocalDateTime.of(1996, 1, 1, 0, 0))
    graft.sources.GraftMor.morRead(s, path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** A20: incremental aggregate maintenance — the materialized-view
    * refresh every periodic 100 TB job wants: a persisted summary is
    * updated from the snapshot DIFF only (GraftCatalog.diffTable),
    * never by re-scanning the base table. Correctness hinges on the
    * partials being mergeable EXACTLY: the summary stores unrounded
    * DECIMAL(28,6) sums (associative, order-independent), and
    * rounding happens once at the read edge. The refreshed summary
    * must hash-match the oracle's full aggregate over both epochs —
    * proving increment + merge ≡ recompute.
    */
  def srcIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.GraftSink.scratchDir + "/incagg"
    val tbl = s"$root/orders.parquet"
    val summaryPath = s"$root/summary.parquet"
    def partialAgg(df: DataFrame): DataFrame = df
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(28, 6))).as("total_d"))
    val orders = cat(s, dir).table("orders")
    // epoch 1 lands; the summary is built once from it
    orders.where(col("o_orderstatus") === "O")
      .write.mode("overwrite").parquet(tbl)
    val catOld = new GraftCatalog(s, root)
    partialAgg(catOld.table("orders"))
      .write.mode("overwrite").parquet(summaryPath)
    // epoch 2 appends; the refresh reads ONLY the diff
    orders.where(col("o_orderstatus") === "F")
      .write.mode("append").parquet(tbl)
    val delta = partialAgg(new GraftCatalog(s, root).diffTable("orders", catOld))
    graft.sources.GraftIO.readParquet(s, summaryPath)
      .unionByName(delta)
      .groupBy("o_orderpriority")
      .agg(sum(col("n")).as("n"),
        round(sum(col("total_d")).cast("double"), 2).as("total"))
      .orderBy("o_orderpriority")
  }

  /** Morton (Z-order) code: the low 16 bits of two keys interleaved —
    * key-a bits on odd positions, key-b on even. Pure integer
    * arithmetic (codegen'd aggregate over a 16-element sequence).
    */
  private[graft] def zorder16(a: String, b: String) = expr(
    s"""aggregate(sequence(0, 15), 0L, (acc, i) ->
          acc + shiftleft((shiftright($a, i) & 1), 2 * i + 1)
              + shiftleft((shiftright($b, i) & 1), 2 * i))""")

  /** A15: Z-ordered layout — orders rewritten sorted by the Morton
    * interleave of (o_custkey, o_orderkey), so parquet row-group
    * footer stats become narrow on BOTH keys at once and a filter on
    * EITHER dimension prunes row groups (a single-column sort can
    * only serve its own column). The V2SourceSpec asserts the pruning
    * through GraftScan's footer-stats path; this query proves the
    * rewrite lossless — the band aggregate over the z-layout must
    * hash-match the oracle's aggregate over the ORIGINAL parquet.
    */
  def srcZorderScan(s: SparkSession, dir: String): DataFrame = {
    val path = writeZordered(s, dir)
    graft.sources.GraftIO.readParquet(s, path)
      .where(col("o_custkey").between(100, 199))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** Writes the z-ordered orders layout (single file, small row
    * groups so footer stats partition the key space) and returns its
    * file path. Shared by the query above and the pruning spec.
    */
  private[graft] def writeZordered(s: SparkSession, dir: String): String = {
    val path = graft.sources.GraftSink.scratchDir + "/orders_zorder"
    val orders = cat(s, dir).table("orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    // Min-max scale both keys to the FULL 16-bit range before
    // interleaving: with raw keys of unequal width (custkey < 2^11,
    // orderkey < 2^14 here) the wider key's high bits dominate the
    // Morton code and the layout degrades to a single-column sort
    // (measured: zero custkey pruning). The two scalar bounds are a
    // write-time driver artifact, same class as IVF centroids.
    val b = orders.agg(
      min("o_custkey"), max("o_custkey"), min("o_orderkey"), max("o_orderkey"))
      .first()
    // scale ENTIRELY in DOUBLE: the Long subtraction AND the Long span
    // both overflow on wide key domains (same fix as GraftLayout.shape)
    def scaled(c: String, lo: Long, hi: Long) =
      ((col(c).cast("double") - lo.toDouble) * 65535.0 /
        math.max(hi.toDouble - lo.toDouble, 1.0)).cast("long")
    orders
      .withColumn("zc", scaled("o_custkey", b.getLong(0), b.getLong(1)))
      .withColumn("zo", scaled("o_orderkey", b.getLong(2), b.getLong(3)))
      .withColumn("z", zorder16("zc", "zo"))
      .orderBy("z").drop("z", "zc", "zo")
      .coalesce(1)
      .write.option("parquet.block.size", "65536").mode("overwrite").parquet(path)
    new java.io.File(path).listFiles()
      .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
  }

  // ─────────────────────── §2.B relational core ───────────────────────

  /** B1: TPC-H Q1 pricing summary — map+combine+reduce aggregation. */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("lineitem")
      .where(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsumr(col("l_quantity")).as("sum_qty"),
        dsumr(col("l_extendedprice")).as("sum_base_price"),
        dsumr(revenueExpr).as("sum_disc_price"),
        dsumr(revenueExpr * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** B2: TPC-H Q6 forecast revenue — pushdown filter + single agg. */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("lineitem")
      .where(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
             col("l_shipdate") <  ts("1997-01-01 00:00:00") &&
             col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
             col("l_quantity") < 24)
      .agg(round(coalesce(dsum(col("l_extendedprice") * col("l_discount")), lit(0.0)), 2).as("revenue"))

  /** B3: TPC-H Q3 shipping priority — join + agg + top-k. */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    c.table("customer").where(col("c_mktsegment") === "BUILDING")
      .join(c.table("orders"), col("c_custkey") === col("o_custkey"))
      .where(col("o_orderdate") < ts("1996-03-15 00:00:00"))
      .join(c.table("lineitem"), col("o_orderkey") === col("l_orderkey"))
      .where(col("l_shipdate") > ts("1996-03-15 00:00:00"))
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .agg(dsumr(revenueExpr).as("revenue"))
      .orderBy(col("revenue").desc, col("order_date"), col("l_orderkey"))
      .limit(10)
  }

  /** B4: TPC-H Q5 local supplier volume — star-schema broadcast joins. */
  def q5LocalSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    c.table("lineitem")
      .join(c.table("orders"), col("l_orderkey") === col("o_orderkey"))
      .where(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
             col("o_orderdate") <  ts("1997-01-01 00:00:00"))
      .join(c.table("customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(c.table("supplier")),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(c.table("nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(c.table("region")), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(dsumr(revenueExpr).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** B5: TPC-H Q4 order priority — EXISTS via left-semi join. */
  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val o = c.table("orders")
      .where(col("o_orderdate") >= ts("1996-07-01 00:00:00") &&
             col("o_orderdate") <  ts("1996-10-01 00:00:00"))
    o.join(c.table("lineitem"),
        col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** B6: NOT EXISTS via left-anti join — customers with no FINALIZED
    * ('F') orders. (On this corpus every customer has *some* order,
    * so the unfiltered form would be vacuously empty and prove
    * nothing; the status filter leaves a real ~5% survivor set.)
    */
  def qAntiCustomersNoOrders(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    c.table("customer")
      .join(c.table("orders").where(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  /** B7: left outer join with null-tolerant aggregation. */
  def qOuterCustomerOrders(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    c.table("customer")
      .join(c.table("orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(dsum(col("o_totalprice")), lit(0.0)), 2).as("spend"))
      .orderBy("c_custkey")
  }

  /** B8: global top-k — TakeOrderedAndProject, no full sort. */
  def qTopkRevenueOrders(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)

  /** B9: distinct — shuffle dedup with partial aggregation. */
  def qDistinctFlagStatus(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("lineitem")
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** B10: union of conformed schemas. */
  def qUnionHighValueParties(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val cust = c.table("customer").where(col("c_acctbal") > 9000)
      .select(col("c_name").as("name"), col("c_acctbal").as("bal"), lit("customer").as("kind"))
    val supp = c.table("supplier").where(col("s_acctbal") > 9000)
      .select(col("s_name").as("name"), col("s_acctbal").as("bal"), lit("supplier").as("kind"))
    cust.unionAll(supp).orderBy("kind", "name")
  }

  /** B11: window functions — top-3 parts per supplier by revenue.
    * One shuffle serves both stages: hash-partitioning on l_suppkey
    * alone satisfies the groupBy's (l_suppkey, l_partkey) clustering
    * AND the window's l_suppkey clustering, so neither re-shuffles.
    */
  def qWindowTopPartsPerSupplier(s: SparkSession, dir: String): DataFrame = {
    // integer cents, not round(x, 2): at sf0.1 a half-cent revenue sum
    // reaches the top-3 and Spark/DuckDB double rounding disagree
    // there — floor(x*100+0.5) is bit-identical on both (same fix as
    // Q11's value_cents)
    val sp = cat(s, dir).table("lineitem")
      .repartition(col("l_suppkey"))
      .groupBy("l_suppkey", "l_partkey")
      .agg(floor(dsum(revenueExpr) * 100.0 + 0.5).cast("long").as("rev_cents"))
    val w = Window.partitionBy("l_suppkey").orderBy(col("rev_cents").desc, col("l_partkey"))
    sp.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .orderBy("l_suppkey", "rnk")
  }

  /** B12: rollup — hierarchical region→nation aggregation. */
  def qRollupNationRegion(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    // rollup().agg() on a joined Dataset trips Spark's ambiguous-self-join
    // false positive (Expand duplicates the grouping attrs), so the rollup
    // goes through the SQL path on a temp view — same plan, no dataset-id
    // metadata.
    c.table("nation")
      .join(broadcast(c.table("region")), col("n_regionkey") === col("r_regionkey"))
      .join(c.table("customer"), col("c_nationkey") === col("n_nationkey"))
      .select(col("r_name"), col("n_name"), col("c_acctbal"))
      .createOrReplaceTempView("graft_rollup_base")
    s.sql("""
      SELECT coalesce(r_name, 'ALL') AS r, coalesce(n_name, 'ALL') AS n,
             count(*) AS n_cust,
             round(CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE), 2) AS bal
      FROM graft_rollup_base
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY r, n""")
  }

  /** B13: exact count-distinct (expand + 2-phase shuffle in Spark). */
  def qCountdCustomersPerSegment(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("customer")
      .groupBy("c_mktsegment")
      .agg(countDistinct(col("c_nationkey")).as("n_nations"), count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  /** B14: approximate count-distinct — HLL sketch (rows-only check:
    * sketch estimates are engine-specific).
    */
  def qApproxCountdParts(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("lineitem")
      .agg(approx_count_distinct(col("l_partkey")).as("apx_parts"),
           count(lit(1)).as("n"))

  /** B15: grouped collection — distinct values gathered per group. */
  def qGroupaggPrioritiesPerStatus(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("orders")
      .groupBy("o_orderstatus")
      .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), ",").as("priorities"))
      .orderBy("o_orderstatus")

  /** B16: TPC-H Q10 returned items — 4-way join + agg + top-k. */
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    c.table("customer")
      .join(c.table("orders"), col("o_custkey") === col("c_custkey"))
      .where(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
             col("o_orderdate") <  ts("1996-07-01 00:00:00"))
      .join(c.table("lineitem"), col("l_orderkey") === col("o_orderkey"))
      .where(col("l_returnflag") === "R")
      .join(broadcast(c.table("nation")), col("n_nationkey") === col("c_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(dsumr(revenueExpr).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** B17: TPC-H Q17 small-quantity revenue — per-part average as the
    * decorrelated threshold join.
    */
  def q17SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    // Prune lineitem to the Brand#12 parts BEFORE the per-partkey
    // average: p_partkey is the part table's key, so restricting the
    // threshold aggregation to the brand's partkeys leaves every
    // per-partkey avg unchanged while shrinking the aggregate's input
    // by ~brand-selectivity (1/25 of parts here, ~1/1000 at real brand
    // cardinality). Catalyst can't push the brand predicate through
    // the aggregate on its own — the semi-join has to be stated.
    val brandLi = c.table("lineitem")
      .join(broadcast(c.table("part").where(col("p_brand") === "Brand#12")
        .select("p_partkey")), col("l_partkey") === col("p_partkey"))
    val thresh = brandLi.groupBy(col("l_partkey").as("t_partkey"))
      .agg((avg("l_quantity") * 0.2).as("qty_thresh"))
    brandLi
      .join(thresh, col("l_partkey") === col("t_partkey"))
      .where(col("l_quantity") < col("qty_thresh"))
      .agg(round(coalesce(dsum(col("l_extendedprice")), lit(0.0)) / 7.0, 2).as("avg_yearly"))
  }

  /** B18: conditional aggregation — CASE-WHEN pivot by priority. */
  def qPivotStatusByPriority(s: SparkSession, dir: String): DataFrame = {
    def flag(p: String) = sum(when(col("o_orderpriority") === p, 1).otherwise(0)).cast("long")
    cat(s, dir).table("orders")
      .groupBy("o_orderstatus")
      .agg(
        flag("1-URGENT").as("n_urgent"),
        flag("2-HIGH").as("n_high"),
        flag("5-LOW").as("n_low"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  /** B42 (TPC-H Q14): promo revenue share in one ship-month — a
    * broadcast dim join where the measure is a conditional share of
    * total. Ratio of two exact-decimal sums, floored at micro.
    */
  def q14PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    c.table("lineitem")
      .where(col("l_shipdate") >= lit("1997-01-01") &&
             col("l_shipdate") < lit("1997-02-01"))
      .join(broadcast(c.table("part")), col("l_partkey") === col("p_partkey"))
      .agg(floor(dsum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))
             * 1000000.0 / dsum(rev)).cast("long").as("promo_share_micro"),
        count(lit(1)).as("n_items"))
  }

  /** B43 (TPC-H Q19): disjunctive multi-attribute quals — an OR of
    * AND-blocks across the join. The join key is the only conjunct
    * pulled above the OR, so the plan stays one broadcast hash join
    * with the residual disjunction evaluated in codegen, not a union
    * of three scans.
    */
  def q19DisjunctiveQuals(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val j = c.table("lineitem")
      .join(broadcast(c.table("part")), col("l_partkey") === col("p_partkey"))
    val q1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
      col("l_quantity").between(1, 20)
    val q2 = col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
      col("l_quantity").between(10, 30)
    val q3 = col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
      col("l_quantity").between(20, 40)
    j.where(q1 || q2 || q3)
      .agg(dsumr(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** B44 (TPC-H Q15): top supplier(s) by quarter revenue — a derived
    * revenue view compared against its own max (scalar subquery).
    * Both sides reuse the one aggregated view; the max is a 1-row
    * broadcast, not a recompute per row.
    */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val rev = c.table("lineitem")
      .where(col("l_shipdate") >= lit("1997-01-01") &&
             col("l_shipdate") < lit("1997-04-01"))
      .groupBy("l_suppkey")
      .agg(dsumr(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_revenue"))
    val mx = rev.agg(max("total_revenue").as("mx"))
    rev.join(broadcast(mx), col("total_revenue") === col("mx"))
      .join(broadcast(c.table("supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** B45 (TPC-H Q22-style): idle wealthy customers — balance above
    * the average positive balance (scalar aggregate broadcast back)
    * and no finalized ('F') orders (anti join; the unfiltered form is
    * vacuous on this corpus, see B6).
    */
  def q22IdleCustomers(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val cust = c.table("customer")
    val avgBal = cust.where(col("c_acctbal") > 0)
      .agg((dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
    cust.crossJoin(broadcast(avgBal))
      .where(col("c_acctbal") > col("avg_bal"))
      .join(c.table("orders").where(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"), dsumr(col("c_acctbal")).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  /** A25: metadata-only table statistics — per-partition row counts
    * and column min/max answered from PARQUET FOOTERS, never touching
    * a data page: the analog of the reference's table-distribution
    * read (ArgodbMapreduceInputFormat.java:104-199 plans over
    * per-section rowset-GROUP metadata, not rows). At 100 TB this is
    * the difference between an O(files) metadata sweep (KBs per file)
    * and a full scan: partition health checks, pruning estimates, and
    * "how big is this partition" answers cost footer IO only.
    *
    * Shape: the pinned file list fans out one task per file (a
    * Dataset of paths — no FileScan of the table anywhere in the
    * plan, spec-asserted); each task reads its footer's block
    * statistics; one tiny (partition) aggregate merges them. Exact
    * because parquet-mr double stats are true min/max (no truncation
    * — only BINARY stats truncate), so the result hash-matches the
    * full-scan oracle.
    */
  def srcStatsTable(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{GraftSink, v2}
    import s.implicits._
    val root = GraftSink.writePartitioned(
      cat(s, dir).table("orders"), "orders_stats_demo", Seq("o_orderpriority"))
    val files = v2.GraftV2.dataFiles(root, s.sessionState.newHadoopConf())
    val conf = v2.GraftV2.sessionConf()
    val perFile = s.createDataset(files).mapPartitions { it =>
      it.map { path =>
        val part = path.split('/').collectFirst {
          case seg if seg.startsWith("o_orderpriority=") =>
            seg.substring("o_orderpriority=".length)
        }.getOrElse(sys.error(s"[GRAFT] unpartitioned file $path"))
        var rows = 0L
        var mn = Double.MaxValue
        var mx = Double.MinValue
        v2.GraftV2.withReader(path, conf.value) { r =>
          val footer = r.getFooter
          footer.getBlocks.forEach { b =>
            rows += b.getRowCount
            b.getColumns.forEach { c =>
              if (c.getPath.toDotString == "o_totalprice") {
                val st = c.getStatistics
                require(st != null && !st.isEmpty && st.hasNonNullValue,
                  s"[GRAFT] missing o_totalprice stats in $path")
                mn = math.min(mn, st.genericGetMin.asInstanceOf[Double])
                mx = math.max(mx, st.genericGetMax.asInstanceOf[Double])
              }
            }
          }
        }
        (part, rows, mn, mx)
      }
    }.toDF("o_orderpriority", "n_rows", "mn", "mx")
    perFile.groupBy("o_orderpriority")
      .agg(sum("n_rows").as("n_rows"),
        min("mn").as("min_price"), max("mx").as("max_price"))
      .orderBy("o_orderpriority")
  }
}
