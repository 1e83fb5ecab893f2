package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` FileSystem tuned for engine use (r16 optimization round).
  *
  * Two measured local-FS costs motivate it (graft.tools.ProfileQuery
  * on the MOR/SQL write ladders):
  *
  *  1. Without the Hadoop native library, materializing POSIX
  *     permissions on a `FileStatus` FORKS A PROCESS per file
  *     (`ls -ld` via o.a.h.util.Shell). Spark's own file-index
  *     listings build `LocatedFileStatus`es whose constructor eagerly
  *     asks for permissions, so every directory scan pays one fork
  *     per file (~2,500 forks measured across one bench ladder).
  *     Nothing in this engine reads owner/permission bits, so
  *     [[GraftRawLocalFileSystem]] returns statuses carrying the
  *     DEFAULT permissions — zero forks, everything else identical.
  *
  *  2. The stock checksummed LocalFileSystem writes a `.crc` sidecar
  *     per file: every parquet write costs two creates, two commit
  *     renames and two deletes, plus CRC arithmetic over every byte.
  *     HDFS/S3 — the filesystems a real deployment runs on — carry
  *     integrity natively and write no sidecars; this adapter brings
  *     local `file://` to the same contract by disabling checksum
  *     write/verify.
  *
  * Wired via `spark.hadoop.fs.file.impl` in GraftSession.tune (and
  * [[GraftLocalFs]] for the FileContext API); inert on cluster
  * filesystems (hdfs/s3a keep their own impls).
  *
  * CONTRACT CAVEATS (deliberate, local-mode only):
  *  - Statuses carry FABRICATED metadata: default permissions, EMPTY
  *    owner/group, zero access time. Nothing in this engine or in
  *    Spark's file index reads them — but Hadoop's FileSystem cache is
  *    keyed by (scheme, authority, ugi), NOT by conf, so any same-JVM
  *    consumer resolving `file://` through the cache after this impl
  *    is installed sees the fabricated values too. A consumer that
  *    needs real permission/owner bits must use its own conf with the
  *    stock `fs.file.impl` and `FileSystem.newInstance`.
  *  - `setPermission` maps only the LOW 9 PERMISSION BITS to java.nio
  *    POSIX permissions. java.nio cannot express setuid/setgid/sticky,
  *    so those bits are MASKED with a warning (logged once per JVM):
  *    the FileSystem cache hands this impl to every same-JVM `file://`
  *    caller, and Hive-style staging dirs ask for 1777 — refusing would
  *    fail their writes, while the stock local FS sets the bits.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem) {
  override def initialize(uri: java.net.URI,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(false)
    setVerifyChecksum(false)
  }
}

/** RawLocalFileSystem whose statuses never lazy-load permissions (the
  * fork source); see [[GraftLocalFileSystem]].
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  private def fast(st: FileStatus): FileStatus =
    if (st == null) null
    else {
      val out = new FileStatus(st.getLen, st.isDirectory, 1, st.getBlockSize,
        st.getModificationTime, 0L,
        if (st.isDirectory) FsPermission.getDirDefault
        else FsPermission.getFileDefault,
        "", "", st.getPath)
      out
    }

  override def getFileStatus(f: Path): FileStatus =
    fast(super.getFileStatus(f))

  /** Same chmod semantics, via java.nio instead of a forked `chmod`
    * process (the stock impl shells out per created directory level on
    * every FileOutputCommitter.setupJob/setupTask without native IO).
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val perms = new java.util.HashSet[java.nio.file.attribute.PosixFilePermission]()
    import java.nio.file.attribute.PosixFilePermission._
    // only the low 9 bits are expressible via java.nio
    if ((permission.toShort & ~0x1FF) != 0 &&
        GraftRawLocalFileSystem.warnedSpecialBits.compareAndSet(false, true))
      org.slf4j.LoggerFactory.getLogger(classOf[GraftRawLocalFileSystem]).warn(
        s"[GRAFT] setPermission($p, $permission): setuid/setgid/sticky bits " +
          "cannot be set through java.nio and are masked to the low 9 bits " +
          "(warned once per JVM)")
    val m = permission.toShort & 0x1FF
    if ((m & 0x100) != 0) perms.add(OWNER_READ)
    if ((m & 0x080) != 0) perms.add(OWNER_WRITE)
    if ((m & 0x040) != 0) perms.add(OWNER_EXECUTE)
    if ((m & 0x020) != 0) perms.add(GROUP_READ)
    if ((m & 0x010) != 0) perms.add(GROUP_WRITE)
    if ((m & 0x008) != 0) perms.add(GROUP_EXECUTE)
    if ((m & 0x004) != 0) perms.add(OTHERS_READ)
    if ((m & 0x002) != 0) perms.add(OTHERS_WRITE)
    if ((m & 0x001) != 0) perms.add(OTHERS_EXECUTE)
    java.nio.file.Files.setPosixFilePermissions(
      java.nio.file.Paths.get(pathToFile(p).getPath), perms)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val xs = super.listStatus(f)
    if (xs == null) null else xs.map(fast)
  }

  /** A path that is not a symlink (every file this engine writes) is
    * its own link status; the stock impl forks `readlink` to find that
    * out. Symlinks keep the stock answer.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (java.nio.file.Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object GraftRawLocalFileSystem {
  private val warnedSpecialBits = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** The FileContext binding for `file://` (`fs.AbstractFileSystem.file
  * .impl`). FileContext ignores `fs.file.impl`, and Hadoop's default
  * there, the checksummed `LocalFs`, made every streaming checkpoint
  * file (Spark's checkpoint manager writes through FileContext) cost a
  * `.crc` sidecar plus a forked `chmod` per create and `readlink` per
  * rename. This delegates to [[GraftRawLocalFileSystem]] without
  * checksums, the contract [[GraftLocalFileSystem]] gives the
  * FileSystem API.
  */
class GraftLocalFs(uri: java.net.URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf, "file", false) {
  // local names are validated by the OS, as in Hadoop's RawLocalFs
  override def isValidName(src: String): Boolean = true
}
