package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import graft.sources.v2.GraftPlanStats

/** The `_snapshots` tree: published snapshot manifests and tags — the
  * durable form of the reference's job-spanning snapshot transaction
  * (ArgodbMapreduceInputFormat.java:52-102, 257-279), and the metadata
  * scans plan from. This object is the tree's one owner: the path
  * rule, the epoch listing, the body's reader and writer, tags and the
  * RENAME path rewrite all live here, and every consumer reads through
  * it.
  *
  * Layout under a catalog root:
  *
  *   _snapshots/<table>/v<id>      one manifest per published epoch
  *   _snapshots/_tags/<tag>        one `<table>\t<id>` line per table
  *
  * Manifest body grammar (lines joined by `\n`, no trailing newline):
  *
  *   rootIsDir=<true|false>                       first line
  *   #publishedAt\t<epoch ms>                     second line
  *   <len>\t<path>                                one per data file
  *   #sidecar\t<dv|eq|seqm>\t<len>\t<path>        one per recorded MOR sidecar file
  *   #schema\t<ddl>                               evolved schema, when recorded
  *   #rgf\t<fileLen>\t<path>                      one per file (stats section)
  *   #rg\t<rows>\t<offset>\t<len>\t<colstats>     one per row group
  *   #complete                                    last line
  *
  * The publish instant sits second so `TIMESTAMP AS OF` needs only a
  * bounded head read. The stats section ([[GraftPlanStats]] owns its
  * encoding) goes last-but-one for the same reason. The `#complete`
  * terminator is the torn-read guard: [[create]] makes the file
  * visible to listers before its body is written, so a body without
  * the terminator may be in flight or left by a crashed publisher.
  * Bodies written before instants, sidecars, stats or the terminator
  * existed lack those lines and still parse.
  */
object SnapshotManifest {

  /** Directory under a catalog root holding the tree — underscore-
    * prefixed so data-file listings skip it.
    */
  val Dir = "_snapshots"

  private val RootIsDir = "rootIsDir="
  private val PublishedAt = "#publishedAt\t"
  private val Sidecar = "#sidecar\t"
  private val Schema = "#schema\t"
  private val Complete = "#complete"

  // ── path rule ───────────────────────────────────────────────────────

  /** Manifest directory of table `table` under catalog root `root`. */
  def dir(root: String, table: String): Path = new Path(s"$root/$Dir/$table")

  /** Manifest directory of a table path
    * (`<root>/<name>.parquet` → `<root>/_snapshots/<name>`).
    */
  def dirFor(tablePath: String): Path = {
    val p = new Path(tablePath)
    new Path(p.getParent, s"$Dir/${p.getName.stripSuffix(".parquet")}")
  }

  /** Epoch `id`'s manifest file. */
  def file(dir: Path, id: Long): Path = new Path(dir, s"v$id")

  private def tagsDir(root: String): Path = new Path(s"$root/$Dir/_tags")

  /** Published epoch ids under a manifest directory, ascending: every
    * `v<digits>` entry; other names are not epochs. Empty when the
    * directory does not exist; other IO failures propagate.
    */
  def ids(fs: FileSystem, dir: Path): Seq[Long] =
    list(fs, dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.drop(1).forall(_.isDigit) =>
        n.drop(1).toLongOption }
      .flatten.sorted

  private def list(fs: FileSystem, dir: Path) =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  // ── the parsed body ─────────────────────────────────────────────────

  /** One manifest body, parsed once. `statsLines` keeps the stats
    * section verbatim (a later publish re-emits it for unchanged
    * files); [[stats]] decodes it on first use. `complete`: the body
    * ends in the terminator and every line decoded. `cutShort`: some
    * line did not decode — the header, a data line or a sidecar line
    * ends mid-field, as a body still being written (or left by a
    * crashed publisher) can.
    */
  final case class Manifest(rootIsDir: Boolean, publishedAt: Option[Long],
      files: Seq[(String, Long)], sidecars: GraftMor.Sidecars,
      statsLines: Seq[String], complete: Boolean, cutShort: Boolean = false) {

    def paths: Seq[String] = files.map(_._1)

    lazy val stats: Map[String, GraftPlanStats.FileStats] =
      GraftPlanStats.parseLines(statsLines)

    /** A line cut short, or stats lines but no terminator: a publish
      * still writing its body, or one that crashed. A body with
      * neither stats lines nor terminator predates both and is whole.
      */
    def torn: Boolean = cutShort || (statsLines.nonEmpty && !complete)

    /** Whether the epoch recorded mutation-sidecar files. */
    def recordsSidecars: Boolean =
      sidecars.any || sidecars.seqm.nonEmpty

    /** Refuse, naming `subject`, when a recorded sidecar file is gone:
      * a compaction folded it after the publish, so the masked state
      * of the epoch can no longer be rebuilt.
      */
    def requireSidecarsLive(fs: FileSystem, subject: String): Unit = {
      val gone = (sidecars.dv ++ sidecars.eq ++ sidecars.seqm).map(_._1)
        .filterNot(p => fs.exists(new Path(p)))
      if (gone.nonEmpty)
        throw new IllegalStateException(
          s"[GRAFT] $subject refused: the epoch records mutation-sidecar " +
            "state that a compaction has since folded " +
            s"(e.g. ${gone.head}) - the masked historical state is no " +
            "longer reconstructible; republish after morCompact")
    }
  }

  /** Epoch `id`'s manifest, parsed; None when it does not exist. */
  def read(fs: FileSystem, dir: Path, id: Long): Option[Manifest] =
    GraftIO.readText(fs, file(dir, id)).map(parse)

  /** Parse a body; never throws. A body cut inside a line parses
    * with `cutShort` set, so the completeness rules see it as torn.
    */
  def parse(body: String): Manifest = {
    val lines = body.split("\n").toSeq
    val rootIsDir =
      Seq(true, false).find(b => lines.headOption.contains(s"$RootIsDir$b"))
    val data = lines.drop(1).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t", 2) match {
        case Array(len, path) => entry(len, path)
        case _ => None
      })
    val sidecars = lines.filter(_.startsWith(Sidecar)).map(_.split("\t", 4) match {
      case Array(_, kind, len, path) => entry(len, path).map(kind -> _)
      case _ => None
    })
    def flavour(k: String) = sidecars.flatten.collect { case (`k`, e) => e }
    val cutShort =
      rootIsDir.isEmpty || data.contains(None) || sidecars.contains(None)
    Manifest(
      rootIsDir = rootIsDir.contains(true),
      publishedAt = lines.find(_.startsWith(PublishedAt)).flatMap(instant),
      files = data.flatten,
      sidecars = GraftMor.Sidecars(flavour("dv"), flavour("eq"), flavour("seqm"),
        lines.collectFirst { case l if l.startsWith(Schema) => l.stripPrefix(Schema) }),
      statsLines = lines.filter(GraftPlanStats.isStatsLine),
      complete = !cutShort && lines.lastOption.exists(_.startsWith(Complete)),
      cutShort = cutShort)
  }

  /** A `<len>\t<path>` entry; None when the line was cut short. */
  private def entry(len: String, path: String): Option[(String, Long)] =
    if (path.isEmpty) None else len.toLongOption.map(path -> _)

  private def instant(line: String): Option[Long] =
    line.stripPrefix(PublishedAt).toLongOption

  /** The body of `m`, in the grammar's line order. */
  def render(m: Manifest): String = {
    val sc = m.sidecars
    (Seq(s"$RootIsDir${m.rootIsDir}") ++
      m.publishedAt.map(t => s"$PublishedAt$t") ++
      m.files.map { case (p, l) => s"$l\t$p" } ++
      Seq("dv" -> sc.dv, "eq" -> sc.eq, "seqm" -> sc.seqm).flatMap { case (k, xs) =>
        xs.map { case (p, l) => s"$Sidecar$k\t$l\t$p" }
      } ++
      sc.schemaDdl.map(Schema + _) ++
      m.statsLines ++
      (if (m.complete) Seq(Complete) else Nil)).mkString("\n")
  }

  /** Write `m` as epoch `id` if no manifest holds that id yet. Left
    * (the collision) when another publisher took the id — the caller
    * re-derives one higher. Only the create takes part in the race: a
    * failure of the body write (disk full), or a create failure while
    * the manifest is absent (permissions, quota), propagates.
    */
  def create(fs: FileSystem, dir: Path, id: Long,
      m: Manifest): Either[java.io.IOException, Unit] = {
    val p = file(dir, id)
    val body = render(m).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out =
      try fs.create(p, false)
      catch {
        case e: java.io.IOException =>
          // the existence probe lives in the body, not a pattern guard:
          // a guard-thrown IOException would escape the match and mask
          // the informative create failure
          val collided =
            e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] ||
              e.isInstanceOf[java.nio.file.FileAlreadyExistsException] ||
              (try fs.exists(p) catch { case _: java.io.IOException => false })
          if (!collided) throw e
          return Left(e)
      }
    try out.write(body) finally out.close()
    Right(())
  }

  /** The publish instant epoch `id` recorded, from one bounded head
    * read; None for manifests published before instants were recorded.
    */
  def publishedAt(fs: FileSystem, dir: Path, id: Long): Option[Long] = {
    val in = fs.open(file(dir, id))
    val head = try {
      val buf = new Array[Byte](512)
      var off = 0
      var n = in.read(buf, off, buf.length - off)
      while (n > 0 && off < buf.length) {
        off += n; n = in.read(buf, off, buf.length - off)
      }
      new String(buf, 0, off, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    head.split("\n").find(_.startsWith(PublishedAt)).flatMap(instant)
  }

  // ── tags ────────────────────────────────────────────────────────────

  /** Record tag `tag` over (table, epoch) pairs; an existing tag of the
    * same name fails the create.
    */
  def writeTag(fs: FileSystem, root: String, tag: String,
      epochs: Seq[(String, Long)]): Unit = {
    fs.mkdirs(tagsDir(root))
    GraftIO.writeText(fs, new Path(tagsDir(root), tag),
      epochs.map { case (t, id) => s"$t\t$id" }.mkString("\n"),
      overwrite = false)
  }

  /** The (table, epoch) pairs tag `tag` pinned; None when no such tag. */
  def readTag(fs: FileSystem, root: String, tag: String): Option[Map[String, Long]] =
    GraftIO.readText(fs, new Path(tagsDir(root), tag)).map { body =>
      body.split("\n").filter(_.nonEmpty).map { line =>
        val Array(t, id) = line.split("\t", 2)
        t -> id.toLong
      }.toMap
    }

  /** Names of the tags published under `root`. */
  def tagNames(fs: FileSystem, root: String): Seq[String] =
    list(fs, tagsDir(root)).map(_.getPath.getName)

  /** A tag under `root` that pins `table` by name, if any. */
  def tagPinning(fs: FileSystem, root: String, table: String): Option[String] =
    tagNames(fs, root).find { t =>
      GraftIO.readText(fs, new Path(tagsDir(root), t))
        .exists(_.split("\n").exists(_.startsWith(table + "\t")))
    }

  // ── RENAME ──────────────────────────────────────────────────────────

  /** Copy every manifest in `from` into `to`, re-rooting each recorded
    * path under `oldRoot` to `newRoot`. Nothing happens when `from`
    * does not exist.
    */
  def copyRebased(fs: FileSystem, from: Path, to: Path, oldRoot: String,
      newRoot: String): Unit = {
    val entries = list(fs, from)
    if (entries.isEmpty) return
    fs.mkdirs(to)
    entries.foreach { st =>
      GraftIO.readText(fs, st.getPath).foreach { body =>
        GraftIO.writeText(fs, new Path(to, st.getPath.getName),
          rebase(body, oldRoot, newRoot), overwrite = true)
      }
    }
  }

  /** Prefix-anchored per-line rewrite: a line carries its path as the
    * LAST tab field (`len\tpath`, `#sidecar\t..\tpath`); only that
    * field, and only when it IS the old root or starts with it as a
    * path prefix, is rewritten — a blanket body.replace would corrupt
    * any field that happened to contain the root as a substring (e.g.
    * a schema comment).
    */
  private def rebase(body: String, oldRoot: String, newRoot: String): String = {
    val oldPrefix = oldRoot + "/"
    body.split("\n", -1).map { line =>
      val i = line.lastIndexOf('\t')
      if (i < 0) line
      else {
        val p = line.substring(i + 1)
        // stored paths may carry a scheme (`file:/...`): anchor on the
        // URI path portion, keep the scheme prefix as it is
        val uriPath = scala.util.Try(new Path(p).toUri.getPath).getOrElse("")
        if (uriPath == oldRoot || uriPath.startsWith(oldPrefix)) {
          val scheme = p.substring(0, p.length - uriPath.length)
          line.substring(0, i + 1) + scheme + newRoot +
            uriPath.substring(oldRoot.length)
        } else line
      }
    }.mkString("\n")
  }
}
