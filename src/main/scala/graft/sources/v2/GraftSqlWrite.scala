package graft.sources.v2

import graft.sources.{GraftCatalog, GraftIO}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.write.{SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{concat_ws, lit, when}
import org.apache.spark.sql.sources.{Filter, InsertableRelation}

import scala.collection.concurrent.TrieMap

/** SQL DML for the graft catalog: `INSERT INTO graft.db.t ...` routed
  * through the A38 WRITE-AUDIT-PUBLISH gate — the write surface the
  * reference's consumers imply (jobs writing back through the same
  * named entry they read from; the reference connector itself is
  * read-only, ArgodbMapreduceInputFormat.java:52-279, so the write
  * side is engine-added and must carry the engine's gate discipline).
  *
  * Shape: the DSv2 V1Write fallback (the JDBC-connector pattern) —
  * Spark resolves/casts the INSERT by position against the table
  * schema, hands this builder the query's DataFrame, and the insert:
  *
  *   1. STAGES the batch through `GraftIO.writeStage` (the graft task
  *      writer, the one every table write shares) into its own
  *      `_staging/batch_<uuid>/` dir — hidden from every data listing;
  *      the batch's file set is EXACTLY the files the tasks returned
  *      (no listing: a concurrent INSERT or eq-upsert append can never
  *      be captured into — and wrongly quarantined/sequenced by — this
  *      batch, and a failed task attempt's file never lands);
  *   2. AUDITS exactly the staged files against the table's
  *      registered [[GraftCatalog.AuditRule]]s; a DIRTY batch is
  *      quarantine-DIVERTED — its files land under
  *      `_quarantine/batch_<uuid>/` (hive partition structure
  *      preserved, so identically-named part files in different
  *      partitions can never collide) with a `_reasons` manifest, the
  *      INSERT fails BY NAME, and the served table is byte-identical
  *      to before;
  *   3. LANDS the clean batch's files in the table (`GraftIO.land`:
  *      checked renames, relative paths preserved) and PUBLISHES
  *      through `publishAudited` (the A38 staged-scope rule: an OLDER
  *      unpublished dirty batch still blocks — a violation can never
  *      ride in on a later clean batch's publish).
  *
  * `INSERT OVERWRITE` (A56) serves the DYNAMIC-PARTITION form on
  * partitioned tables: only the partitions PRESENT in the batch are
  * replaced (the A17 backfill semantics — a static `PARTITION (p=v)`
  * spec constant-folds `p=v` into every batch row, so it replaces
  * exactly that partition), the audit runs BEFORE any existing file
  * is touched (a dirty overwrite diverts with the table unchanged),
  * and the replace takes the A24 lease gate plus the live-sidecar
  * resurrection guard, like every COW rewrite. Unpartitioned
  * overwrite (full truncate) refuses by name.
  * Cost at scale: one O(batch) audit scan + per-file renames + one
  * manifest write — never O(table) after the first publish.
  */
object GraftSqlWrite {

  /** Audit rules per scheme-less table path — registered once by the
    * pipeline owner; inserts into unregistered tables publish through
    * the gate with no row rules (schema gate still applies).
    */
  private val rules = TrieMap.empty[String, Seq[GraftCatalog.AuditRule]]

  private def norm(p: String): String = GraftMorMask.norm(p)

  def setAuditRules(tablePath: String,
      auditRules: Seq[GraftCatalog.AuditRule]): Unit =
    rules.put(norm(tablePath), auditRules)

  def clearAuditRules(tablePath: String): Unit = rules.remove(norm(tablePath))

  /** The WriteBuilder `GraftTable.newWriteBuilder` hands Spark.
    * `SupportsOverwrite` admits the static-mode `INSERT OVERWRITE`
    * plan (OverwriteByExpression → the V1 fallback); the filters are
    * not needed — dynamic-partition semantics replace exactly the
    * partitions the batch carries, which a static partition spec has
    * already constant-folded into the rows.
    */
  def builder(tablePath: String, partCols: Seq[String]): WriteBuilder =
    new WriteBuilder with SupportsOverwrite {
      private var overwriteMode = false
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        overwriteMode = true; this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              insertAudited(data, tablePath, partCols,
                overwrite || overwriteMode)
          }
      }
    }

  private[v2] def insertAudited(data: DataFrame, tablePath: String,
      partCols: Seq[String], overwrite: Boolean): Unit =
    GraftIO.withCallConf(data.sparkSession) {
      val s = data.sparkSession
      val fs = new Path(tablePath).getFileSystem(GraftIO.hadoopConf(s))
      if (overwrite) {
        require(partCols.nonEmpty,
          s"[GRAFT] INSERT OVERWRITE on $tablePath refused: the table is " +
            "unpartitioned, so overwrite means a full truncate-and-replace - " +
            "use the COW/MOR mutation APIs for whole-table rewrites " +
            "(dynamic-partition overwrite is the supported SQL form)")
        // a partition replace destroys files: live MOR sidecars would be
        // invalidated (tombstoned rows resurrected, coordinates dangled)
        graft.sources.GraftMor.failIfMutationSidecars(s, tablePath,
          "INSERT OVERWRITE")
      }
      // declared CHAR/VARCHAR lengths enforce FIRST (error past n, CHAR
      // right-pads) — before shaping/staging, so a violating batch fails
      // with the table untouched, like every A38 refusal
      val checked = GraftCharVarchar.enforce(data, fs, tablePath)
      // A62/A65: a declared layout shapes the batch FIRST (range-
      // partition + sort on the declared key / Morton interleave, or
      // hash-bucket into `bucket=N/` dirs), so every staged file — and
      // hence every table file, forever — carries the declared physical
      // contract.
      val layout = GraftLayout.readMarker(fs, tablePath)
      val shaped = layout.map(GraftLayout.shape(checked, _)).getOrElse(checked)
      val writeCols = partCols ++ layout.map(GraftLayout.writeDirCols)
        .getOrElse(Seq.empty)
      // 1. STAGE into this batch's own hidden dir: the file set is
      // exactly what the tasks returned
      val (stage, staged) = GraftIO.writeStage(shaped, tablePath, "batch", "INSERT",
        writeCols)
      val landed =
        try {
          // an empty OVERWRITE is not a no-op in standard Spark semantics
          // (a static PARTITION spec means "truncate that partition"); the
          // engine's dynamic form has no partition left to learn from the
          // batch, so a silent return would drop the user's intent on the
          // floor — refuse BY NAME with the remedy
          if (staged.isEmpty && overwrite) throw new IllegalStateException(
            s"[GRAFT] INSERT OVERWRITE on $tablePath refused: the source query " +
              "produced no rows, so the dynamic-partition form cannot tell " +
              "which partition(s) to replace - to empty a partition, insert " +
              "a sentinel-free batch for it or use the COW mutation APIs")
          if (staged.isEmpty) None // empty plain INSERT: a true no-op
          else {
            audit(s, fs, tablePath, stage, staged)
            if (overwrite) replacePartitions(s, fs, tablePath, staged)
            // 3a. MOVE the clean batch in (checked renames, relative
            // paths preserved — a partitioned batch's files land in
            // their dirs)
            Some(GraftIO.land(fs, tablePath, stage, staged, "INSERT"))
          }
        } finally GraftIO.dropStage(fs, stage)
      landed.foreach(publish(s, tablePath, _, overwrite))
    }

  /** 2. AUDIT exactly this batch's rows (partition columns re-attach
    * via basePath against the stage's hive layout). A DIRTY batch is
    * diverted: its files land under `_quarantine/<stage>` with a
    * `_reasons` manifest, and the INSERT fails by name.
    */
  private def audit(s: SparkSession, fs: FileSystem, tablePath: String,
      stage: Path, staged: Seq[String]): Unit = {
    val tableRules = rules.getOrElse(norm(tablePath), Seq.empty)
    if (tableRules.isEmpty) return
    val batch = graft.sources.GraftMor.readFilesWithBase(
      s, stage.toString, staged.map(r => s"$stage/$r"))
    val fired = tableRules.map(r => when(r.violation, lit(r.name)))
    val quarantine = batch
      .withColumn("reasons", concat_ws(",", fired: _*))
      .where(fired.map(f => when(f.isNotNull, 1L).otherwise(0L))
        .reduce(_ + _) > 0L)
      .localCheckpoint(true) // the divert below unlinks what this reads
    try {
      val nBad = quarantine.count()
      if (nBad > 0L) {
        // DIVERT the batch's files (relative structure intact —
        // partitioned batches cannot collide), so the served table is
        // byte-identical to before
        val qDir = s"$tablePath/_quarantine/${stage.getName}"
        GraftIO.land(fs, qDir, stage, staged, "INSERT quarantine divert")
        val (rStage, rFiles) = GraftIO.writeStage(quarantine, tablePath, "reasons",
          "INSERT quarantine")
        GraftIO.moveIn(fs, s"$qDir/_reasons", rStage, rFiles, "INSERT quarantine")
        throw new IllegalStateException(
          s"[GRAFT] INSERT INTO $tablePath refused: $nBad row(s) violate " +
            s"audit rule(s) [${tableRules.map(_.name).mkString(",")}] - " +
            s"batch diverted to $qDir (reasons manifest inside); the " +
            "served table is unchanged")
      }
    } finally graft.GraftSession.releaseCheckpoint(quarantine)
  }

  /** 2b. OVERWRITE: remove the current files of exactly the partitions
    * this batch carries — the audit already passed. Takes the lease gate
    * (pinned readers of the replaced partitions fail fast at acquire,
    * not silently mid-read), like every COW path.
    */
  private def replacePartitions(s: SparkSession, fs: FileSystem, tablePath: String,
      staged: Seq[String]): Unit = {
    graft.sources.GraftLease.failIfLeased(s, tablePath, "INSERT OVERWRITE")
    val replacedDirs = staged.map { rel =>
      val i = rel.lastIndexOf('/')
      require(i > 0, s"[GRAFT] INSERT OVERWRITE staged a file outside " +
        s"a partition dir: $rel")
      rel.substring(0, i)
    }.distinct
    replacedDirs.foreach { rel =>
      val pdir = new Path(s"$tablePath/$rel")
      GraftV2.dataFilesRelative(fs, pdir).foreach { f =>
        if (!fs.delete(new Path(pdir, f), false))
          throw new IllegalStateException(
            s"[GRAFT] INSERT OVERWRITE failed to remove $pdir/$f")
      }
    }
  }

  /** 3b-c. SEQUENCE and PUBLISH the landed batch. */
  private def publish(s: SparkSession, tablePath: String, landed: Seq[String],
      overwrite: Boolean): Unit = {
    // SEQUENCE the batch (only when the table carries an equality
    // sidecar): the inserted files record at the CURRENT epoch
    // sequence, so they outrank every existing finite eq tombstone —
    // a fresh insert serves even for a previously upserted key —
    // while erases (sequence ∞) still mask them: an INSERT cannot
    // resurrect a GDPR-erased key.
    if (!overwrite)
      graft.sources.GraftMor.sequenceAppendedFiles(s, tablePath, landed)
    // PUBLISH through the A38 gate (staged scope: everything
    // unpublished — an older dirty batch still blocks, by design).
    // For an overwrite the tip manifest now names destroyed files
    // (exactly the COW stale-epoch contract), so the gate's
    // tip-schema read is skipped — Spark already resolved the batch
    // against the live table schema upstream.
    val tableRoot = new Path(tablePath)
    val tableRules = rules.getOrElse(norm(tablePath), Seq.empty)
    val nsDir = tableRoot.getParent.toString
    val name = tableRoot.getName.stripSuffix(".parquet")
    val gateRules =
      if (tableRules.nonEmpty) tableRules
      else Seq(GraftCatalog.AuditRule("none", lit(false)))
    new GraftCatalog(s, nsDir).publishAudited(name, gateRules,
      refuseBreakingSchema = !overwrite) match {
      case Right(_) => ()
      case Left(q) =>
        val n = q.count()
        throw new IllegalStateException(
          s"[GRAFT] INSERT INTO $tablePath staged cleanly but the publish " +
            s"gate found $n violating row(s) among OLDER unpublished files " +
            "- fix or vacuum the earlier staged batch (A38 scope rule)")
    }
  }
}
