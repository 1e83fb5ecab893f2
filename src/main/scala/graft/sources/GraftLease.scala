package graft.sources

import org.apache.spark.sql.SparkSession

/** Reader share-leases — the Spark-native analog of the reference's
  * job-spanning table/section SHARE locks
  * (ArgodbMapreduceInputFormat.java:52-102 acquires them at job
  * submit; :257-279 releases on close). Graft's pinned listings are
  * optimistic (parquet immutability makes a pinned snapshot readable
  * regardless of later APPENDS) — but a copy-on-write REWRITE
  * (mergeUpsert/mergeDelete) deletes the very files a pinned reader
  * still references. The lease closes that hole: a reader registers a
  * share lease beside its pin, and the rewriting writer FAILS FAST
  * while any unexpired lease is held, instead of silently interleaving
  * with the snapshot. REFRESH (GraftCatalog.invalidate /
  * `REFRESH TABLE` through the SQL catalog) releases the lease with
  * the pin.
  *
  * The registry lives in the engine's scratch area keyed by the
  * table's qualified path — NOT inside the table directory — matching
  * the reference, whose locks live in the metastore, not the data
  * files (and letting leases cover read-only table roots). Leases
  * carry an expiry so a crashed reader cannot block writers forever
  * (the TTL is the lock-service lease analog; the reference's
  * server-side transaction timeout plays the same role).
  */
object GraftLease {

  /** Default reader lease lifetime. */
  val DefaultTtlMs: Long = 60L * 60 * 1000

  /** Qualified-path key → registry directory (one dir per table). */
  private def registryDir(s: SparkSession, tablePath: String): org.apache.hadoop.fs.Path = {
    val q = qualified(s, tablePath)
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(q.getBytes("UTF-8")).map("%02x".format(_)).mkString
    new org.apache.hadoop.fs.Path(s"${GraftSink.scratchDir}/leases/$digest")
  }

  private def qualified(s: SparkSession, tablePath: String): String = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    fs.makeQualified(p).toString
  }

  private def fsOf(s: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(s.sessionState.newHadoopConf())

  /** Register a share lease on `tablePath`; returns the lease id. */
  def acquire(s: SparkSession, tablePath: String,
      ttlMs: Long = DefaultTtlMs): String = {
    val id = "r-" + java.util.UUID.randomUUID().toString
    val dir = registryDir(s, tablePath)
    val fs = fsOf(s, dir)
    fs.mkdirs(dir)
    GraftIO.writeText(fs, new org.apache.hadoop.fs.Path(dir, id),
      s"${System.currentTimeMillis() + ttlMs}\n$tablePath", overwrite = true)
    id
  }

  /** Release one lease (idempotent). */
  def release(s: SparkSession, tablePath: String, leaseId: String): Unit = {
    val dir = registryDir(s, tablePath)
    fsOf(s, dir).delete(new org.apache.hadoop.fs.Path(dir, leaseId), false)
    ()
  }

  /** Unexpired lease ids on `tablePath`; expired markers are garbage-
    * collected in passing (a crashed reader's lease dies with its TTL).
    */
  def activeHolders(s: SparkSession, tablePath: String): Seq[String] = {
    val dir = registryDir(s, tablePath)
    val fs = fsOf(s, dir)
    if (!fs.exists(dir)) return Seq.empty
    val now = System.currentTimeMillis()
    fs.listStatus(dir).toSeq.flatMap { st =>
      val expiry = try {
        val in = fs.open(st.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().next().trim.toLong
        finally in.close()
      } catch { case _: Exception => 0L } // unreadable marker = expired
      if (expiry > now) Some(st.getPath.getName)
      else { fs.delete(st.getPath, false); None }
    }
  }

  /** Writer-side gate: throw if any reader still share-leases the
    * table — the copy-on-write rewrite would delete files under its
    * pinned snapshot.
    */
  def failIfLeased(s: SparkSession, tablePath: String, op: String): Unit = {
    val holders = activeHolders(s, tablePath)
    if (holders.nonEmpty) throw new IllegalStateException(
      s"[GRAFT] $op on $tablePath would rewrite files pinned by " +
        s"${holders.size} active reader lease(s) ${holders.mkString("[", ", ", "]")} — " +
        "readers must REFRESH (releasing their snapshot) first, or their " +
        "leases must expire.")
  }
}
