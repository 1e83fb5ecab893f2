package graft.sources.v2

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, max, min}
import org.apache.spark.sql.types.{LongType, StructType}

/** A62: DECLARED physical layout — `CREATE TABLE ... TBLPROPERTIES
  * ('layout'='zorder(a,b)')` (or `'layout'='sort(c1,c2,...)'`) records
  * a clustering contract in the table's `_schema/layout` marker, and
  * EVERY SQL insert honors it: each batch is range-partitioned and
  * sorted on the declared key (for zorder, on the Morton interleave of
  * the two keys, min-max scaled per batch) before it stages, so parquet
  * row-group footer stats stay narrow on the filtered dimensions and
  * the v2 scan's stats pruning keeps working as the table grows —
  * the write-time half of A15's Z-order story, now a table property
  * instead of a hand-run rewrite.
  *
  * At 100 TB this is the difference between clustering being a
  * one-time maintenance job and a standing invariant: every appended
  * batch arrives clustered, so point/band queries prune row groups in
  * NEW data without waiting for a compaction pass. The shaping cost is
  * one extra O(batch) bounds aggregate (zorder only) plus the range
  * exchange the sort needs — never a table read.
  *
  * (Reference anchor: the connector's scan-side pruning,
  * ArgodbMapreduceInputFormat.java:151-219, is what declared layouts
  * keep effective; the reference leaves layout to the native writer.)
  */
object GraftLayout {

  /** kind ∈ {"sort", "zorder", "bucket"}; cols in declared order;
    * `buckets` > 0 only for bucket layouts (A65) — the PER-COLUMN
    * bucket count (grid semantics: a k-column declaration makes
    * buckets^k physical cells).
    */
  final case class Layout(kind: String, cols: Seq[String], buckets: Int = 0)

  /** Physical cell count of a bucket layout: buckets^cols (the grid).
    * The declared per-column count is what each `bucket(n, col)`
    * transform reports; this is the dir/partition count.
    */
  def totalBuckets(l: Layout): Int = {
    require(l.kind == "bucket", s"[GRAFT] totalBuckets on '${l.kind}' layout")
    l.cols.foldLeft(1L)((acc, _) => acc * l.buckets) match {
      case t if t >= 1 && t <= 65536 => t.toInt
      case t => throw new IllegalStateException(
        s"[GRAFT] bucket grid of ${l.cols.size} x ${l.buckets} = $t cells " +
          "is out of [1, 65536]")
    }
  }

  /** The synthetic directory column a bucket layout writes
    * (`bucket=N/` dirs) — structural, never part of the declared
    * schema, excluded from partition-column inference.
    */
  val BucketDirCol = "bucket"

  private def markerPath(tablePath: String) = new org.apache.hadoop.fs.Path(
    s"$tablePath/${graft.sources.GraftMor.SchemaDir}/layout")

  /** The ONE (tableRoot, file) → bucket-id parse every surface shares —
    * scan co-location (GraftScan), advisor stray-file detection
    * (GraftAdvisor): a conforming file sits EXACTLY one `bucket=N` dir
    * below the table root, N >= 0. Centralized because drift between
    * hand-rolled copies of this rule would make the advisor report a
    * clean layout while the scan silently degrades to shuffled joins
    * (or flag rebucket forever on a layout the scan accepts).
    */
  def bucketIdOf(tableRoot: String, file: String): Option[Int] = {
    val root = new org.apache.hadoop.fs.Path(tableRoot).toUri.getPath
    val rel = new org.apache.hadoop.fs.Path(file).toUri.getPath
      .stripPrefix(root).stripPrefix("/")
    val segs = rel.split('/')
    if (segs.length == 2 && segs(0).startsWith(BucketDirCol + "="))
      scala.util.Try(segs(0).substring(BucketDirCol.length + 1).toInt)
        .toOption.filter(_ >= 0)
    else None
  }

  private val Shape = """^\s*(sort|zorder|bucket)\s*\(\s*([^)]+?)\s*\)\s*$""".r

  /** The declaration string a layout round-trips to (what
    * `SHOW TBLPROPERTIES` serves back for the `layout` property).
    */
  def describe(l: Layout): String =
    s"${l.kind}(${l.cols.mkString(",")}" +
      (if (l.kind == "bucket") s",${l.buckets})" else ")")

  /** The types a zorder key may have: anything with a monotone map to
    * a 64-bit integer — BIGINT identity, TIMESTAMP/TIMESTAMP_NTZ as
    * epoch micros, DATE as epoch days, STRING as its 7-byte UTF-8
    * prefix read big-endian (Spark string order IS unsigned UTF-8
    * byte order, so the prefix map is monotone; parquet binary
    * min/max stats order the same way, which is what makes the
    * clustered footer stats prunable). Real tables cluster on
    * (tenant, ts) or (category, id); restricting zorder to BIGINT
    * pairs would shut out exactly those shapes.
    */
  private def zorderable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case LongType => true
      case org.apache.spark.sql.types.TimestampType => true
      case org.apache.spark.sql.types.TimestampNTZType => true
      case org.apache.spark.sql.types.DateType => true
      case org.apache.spark.sql.types.StringType => true
      case _ => false
    }

  /** Parse + validate a `layout` table property against the declared
    * schema. Refusals BY NAME: unknown shape, missing columns,
    * partition columns (hive layout already clusters them into
    * directories — a second declaration would be a contradiction),
    * zorder arity/type (2–4 columns, each BIGINT/TIMESTAMP/DATE/STRING
    * — the interleave is integer bit arithmetic over a monotone
    * 64-bit map),
    * bucket arity/type/count (1–4 BIGINT key columns + a literal
    * bucket count — the A65 hash is integer arithmetic and the count
    * is the table's co-location contract).
    */
  def parse(spec: String, schema: StructType, partCols: Seq[String]): Layout = {
    val (kind, colsRaw) = spec match {
      case Shape(k, cs) => (k, cs)
      case _ => throw new IllegalArgumentException(
        s"[GRAFT] bad layout property '$spec': expected " +
          "'sort(c1,c2,...)', 'zorder(c1,c2,...)' or 'bucket(k1,...,N)'")
    }
    val parts = colsRaw.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (kind == "bucket") {
      require(parts.size >= 2,
        s"[GRAFT] bucket layout takes (column[, ...], bucketCount), got '$spec'")
      val cols = parts.init
      require(cols.size <= 4,
        s"[GRAFT] bucket layout takes at most 4 key columns, got " +
          s"${cols.size} in '$spec'")
      require(cols.distinct.size == cols.size,
        s"[GRAFT] layout '$spec' repeats a column")
      val n = try parts.last.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"[GRAFT] bucket count must be a literal INT, got '${parts.last}'")
      }
      require(n > 0 && n <= 65536,
        s"[GRAFT] bucket count must be in [1, 65536], got $n")
      // stepwise guard: the k-fold product can wrap Long (65536^4 ≡ 0),
      // so check the bound as each factor lands — the refusal must fire
      // at CREATE, never as a late INSERT surprise
      cols.foldLeft(1L) { (acc, _) =>
        val next = acc * n
        require(next >= acc && next <= 65536L,
          s"[GRAFT] bucket grid ${cols.size} x $n exceeds 65536 physical " +
            "cells - lower the per-column count")
        next
      }
      cols.foreach { c =>
        require(schema.fieldNames.contains(c),
          s"[GRAFT] layout column '$c' is not in the table schema")
        require(!partCols.contains(c),
          s"[GRAFT] layout column '$c' is a partition column - the hive " +
            "directory layout already clusters it; declare data columns only")
        require(schema(c).dataType == LongType,
          s"[GRAFT] bucket column '$c' must be BIGINT (the A65 bucket hash " +
            s"is integer arithmetic), got ${schema(c).dataType.simpleString}")
      }
      require(!schema.fieldNames.contains(BucketDirCol),
        s"[GRAFT] a bucket-layout table cannot declare a column named " +
          s"'$BucketDirCol' (reserved for the bucket directory layout)")
      require(partCols.isEmpty,
        "[GRAFT] bucket layout on a hive-partitioned table is not " +
          "supported - a bucket split would span partition directories; " +
          "declare one or the other")
      return Layout(kind, cols, n)
    }
    val cols = parts
    require(cols.nonEmpty, s"[GRAFT] layout '$spec' names no columns")
    require(cols.distinct.size == cols.size,
      s"[GRAFT] layout '$spec' repeats a column")
    cols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"[GRAFT] layout column '$c' is not in the table schema")
      require(!partCols.contains(c),
        s"[GRAFT] layout column '$c' is a partition column - the hive " +
          "directory layout already clusters it; declare data columns only")
    }
    if (kind == "zorder") {
      require(cols.size >= 2 && cols.size <= 4,
        s"[GRAFT] zorder layout takes 2 to 4 columns, got " +
          s"${cols.size} in '$spec'")
      cols.foreach { c =>
        require(zorderable(schema(c).dataType),
          s"[GRAFT] zorder column '$c' must be BIGINT, TIMESTAMP, DATE " +
            "or STRING (the interleave needs a monotone 64-bit integer " +
            s"map), got ${schema(c).dataType.simpleString}")
      }
    }
    Layout(kind, cols)
  }

  /** Record the declared layout in the table's permanent marker. */
  def writeMarker(fs: org.apache.hadoop.fs.FileSystem, tablePath: String,
      layout: Layout): Unit = {
    val p = markerPath(tablePath)
    fs.mkdirs(p.getParent)
    val body = s"${layout.kind}\t${layout.cols.mkString(",")}" +
      (if (layout.kind == "bucket") s"\t${layout.buckets}" else "")
    graft.sources.GraftIO.writeText(fs, p, body, overwrite = true)
  }

  def readMarker(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String): Option[Layout] = {
    val p = markerPath(tablePath)
    val body = graft.sources.GraftIO.readMarker(fs, p).getOrElse(return None)
    body.split("\t") match {
      case Array(kind, cols) =>
        Some(Layout(kind, cols.split(",").filter(_.nonEmpty).toSeq))
      case Array("bucket", cols, n) =>
        Some(Layout("bucket", cols.split(",").filter(_.nonEmpty).toSeq, n.toInt))
      case _ => throw new IllegalStateException(
        s"[GRAFT] corrupt layout marker at $p: '$body'")
    }
  }

  def deleteMarker(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String): Unit = {
    val p = markerPath(tablePath)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Extra hive-style directory columns the staged WRITE must
    * partition by for this layout: a bucket layout lands each bucket
    * in its own `bucket=N/` dir — the structural marker the scan
    * derives co-location from (and the shape a stray non-bucketed
    * append is detectable against).
    */
  def writeDirCols(layout: Layout): Seq[String] =
    if (layout.kind == "bucket") Seq(BucketDirCol) else Seq.empty

  /** A65: the degradation REMEDY — re-shape a bucket table whose
    * contract was broken by stray appends (a morUpsert, a delta-DML
    * insert land outside the `bucket=N/` dirs, and the scan honestly
    * degrades to shuffled joins). One compactTable-class COW pass:
    * read the SERVED state, re-bucket through the same shaping every
    * insert uses, stage, then retire-and-move-in (checked renames).
    * Lease-gated; live mutation sidecars refuse BY NAME (their
    * coordinates anchor to the files this rewrite destroys — fold
    * with morCompact first, exactly the A61 discipline). Epochs
    * published before the rewrite fail fast on read like every COW
    * path (A26 contract); republish after. Callers REFRESH TABLE.
    */
  def rebucket(spark: org.apache.spark.sql.SparkSession,
      tablePath: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val layout = readMarker(fs, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"[GRAFT] rebucket($tablePath): no declared layout marker"))
    require(layout.kind == "bucket",
      s"[GRAFT] rebucket($tablePath): declared layout is '${layout.kind}', " +
        "not bucket")
    graft.sources.GraftMor.failIfMutationSidecars(spark, tablePath,
      "rebucket")
    graft.sources.GraftLease.failIfLeased(spark, tablePath, "rebucket")
    val files = graft.sources.GraftCatalog.listDataFiles(spark, tablePath)
      .files.map(_._1)
    if (files.isEmpty) return
    // explicit file paths, marker schema: no partition-dir inference,
    // so the synthetic bucket dir column never enters the frame
    val served = graft.sources.GraftMor.readSchemaDdl(spark, tablePath)
      .map(org.apache.spark.sql.types.StructType.fromDDL)
    val reader = spark.read
    served.foreach(reader.schema)
    val df = reader.parquet(files: _*)
    val (stage, staged) = graft.sources.GraftIO.writeStage(shape(df, layout), tablePath,
      "rebucket", "rebucket", Seq(BucketDirCol))
    GraftV2.swapStagedFiles(fs, root, stage, staged, "rebucket")
  }

  /** Shape one insert batch to the declared layout: range-partition +
    * sort on the key so each staged file covers a narrow key band and
    * row groups within it stay narrower still. For zorder the key is
    * the 16-bit Morton interleave of the two columns, min-max scaled
    * over THIS batch (two scalar bounds from one O(batch) aggregate —
    * without scaling, keys of unequal width degrade the interleave to
    * a single-column sort; the A15 lesson). For bucket (A65) the batch
    * hash-repartitions into exactly `n` tasks — task i holds exactly
    * bucket i (repartition's HashPartitioning IS pmod(hash, n), the
    * same arithmetic as the `bucket` dir column and the reported V2
    * function) — sorted within by the key, so each bucket dir gets ONE
    * sorted file per insert.
    */
  /** Monotone 64-bit integer view of a zorder key column: BIGINT
    * as-is, TIMESTAMP/TIMESTAMP_NTZ as epoch micros, DATE as epoch
    * days, STRING as its zero-padded 7-byte UTF-8 prefix read as a
    * big-endian unsigned integer (2^56 fits a long; shorter strings
    * right-pad with 0x00 so "b" sorts after "aa" exactly as the
    * string comparison does; longer strings truncate — ties beyond
    * the prefix cluster together, which is all the interleave needs).
    * Monotonicity is the only property required — the NTZ cast's
    * session-zone interpretation shifts every value by the same
    * constant, so clustering is unaffected.
    */
  private def longKey(data: DataFrame, c: String) = {
    import org.apache.spark.sql.functions.{conv, hex, rpad, unix_date, unix_micros}
    data.schema(c).dataType match {
      case LongType => col(c)
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c))
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col(c).cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.DateType => unix_date(col(c)).cast("long")
      case org.apache.spark.sql.types.StringType =>
        conv(hex(rpad(col(c).cast(org.apache.spark.sql.types.BinaryType), 7,
          Array[Byte](0))), 16, 10).cast(LongType)
      case other => throw new IllegalStateException(
        s"[GRAFT] zorder column '$c' has unzorderable type " +
          other.simpleString)
    }
  }

  def shape(data: DataFrame, layout: Layout): DataFrame = layout match {
    case Layout("bucket", cols, n) =>
      import org.apache.spark.sql.functions.{hash, lit, pmod}
      // GRID bucketing: each key column buckets INDEPENDENTLY into n
      // cells and the flat dir id row-majors the per-column ids
      // (first column most significant) — the Iceberg multi-field
      // shape. This is deliberate: Spark's storage-partitioned join
      // resolves only single-column bucket transforms (a multi-ref
      // bucket falls to a generic transform whose numBuckets literal
      // fails ClusteredDistribution matching), so a composite-hash
      // bucket could never co-locate; one bucket(n, col) transform
      // per column can. Single column: flat == the one id, the
      // original layout unchanged.
      val flat = cols.map(c => pmod(hash(col(c)), lit(n)))
        .reduceLeft((acc, b) => acc * n + b)
      val total = totalBuckets(Layout("bucket", cols, n))
      // all rows of a cell share the flat id; RANGE-partitioning on the
      // id places cells ~1:1 onto tasks (hash-repartition on the id
      // would collide 2-3 cells per task and leave others empty — a
      // write-parallelism skew), and partitionBy(BucketDirCol) then
      // writes one key-sorted file per cell dir. Known cost: the range
      // partitioner's boundary SAMPLING pass re-evaluates the input
      // once before the shuffle — cache an expensive CTAS source if
      // that matters; placement exactness and bounded file counts win
      // for the standing insert path
      data.withColumn(BucketDirCol, flat)
        .repartitionByRange(total, col(BucketDirCol))
        .sortWithinPartitions(cols.map(col): _*)
    case Layout("sort", cols, _) =>
      data.repartitionByRange(cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)
    case Layout("zorder", zcols, _) =>
      val k = zcols.size
      // one O(batch) bounds aggregate over every key dim
      val aggCols = zcols.flatMap(c =>
        Seq(min(longKey(data, c)), max(longKey(data, c))))
      val bounds = data.agg(aggCols.head, aggCols.tail: _*).first()
      if ((0 until k).forall(d => bounds.isNullAt(2 * d)))
        return data // empty or all-null batch: nothing to cluster
      // scale ENTIRELY in DOUBLE: both the Long subtraction
      // (col - lo) and the Long span (hi - lo) overflow when the key
      // domain spans more than half the Long range (hash-valued keys)
      // — the 16-bit target makes double precision exact enough
      def scaled(c: String, lo: Long, hi: Long) =
        ((longKey(data, c).cast("double") - lo.toDouble) * 65535.0 /
          math.max(hi.toDouble - lo.toDouble, 1.0)).cast("long")
      val withDims = zcols.zipWithIndex.foldLeft(data) { case (df, (c, d)) =>
        // an all-null dim keeps lo=hi=0: its (null) bits null the key
        // and those rows range-sort together — harmless
        val lo = if (bounds.isNullAt(2 * d)) 0L else bounds.getLong(2 * d)
        val hi = if (bounds.isNullAt(2 * d + 1)) 0L else bounds.getLong(2 * d + 1)
        df.withColumn(s"__graft_zd$d", scaled(c, lo, hi))
      }
      // generalized Morton interleave: bit i of dim d lands at
      // position k*i + (k-1-d) — 16 bits per dim, <= 64 bits total
      val terms = (0 until k).map(d =>
        s"shiftleft((shiftright(__graft_zd$d, i) & 1), $k * i + ${k - 1 - d})")
        .mkString(" + ")
      withDims
        .withColumn("__graft_z", expr(
          s"aggregate(sequence(0, 15), 0L, (acc, i) -> acc + ($terms))"))
        .repartitionByRange(col("__graft_z"))
        .sortWithinPartitions("__graft_z")
        .drop("__graft_z" +: (0 until k).map(d => s"__graft_zd$d"): _*)
    case other => throw new IllegalStateException(
      s"[GRAFT] unknown layout marker kind '${other.kind}'")
  }
}
