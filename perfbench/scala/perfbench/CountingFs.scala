package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The engine's local file system with per-operation call counters:
  * the traced run installs it as `fs.file.impl`, so opens, listings,
  * status probes and file creations are counted at the FileSystem
  * boundary. Every call goes on to the engine's own implementation.
  */
class CountingFs extends graft.sources.GraftLocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.lists.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    CountingFs.lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    CountingFs.lists.incrementAndGet(); super.listStatusIterator(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    CountingFs.statuses.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingFs.creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingFs {
  val opens, lists, statuses, creates = new AtomicLong(0L)

  /** Bytes the `file` scheme read and wrote, from Hadoop's own
    * statistics (counted in traced and untraced runs alike).
    */
  def bytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics
    var r, w = 0L
    st.forEach { s => if (s.getScheme == "file") { r += s.getBytesRead; w += s.getBytesWritten } }
    (r, w)
  }

  def snapshot(): Map[String, Double] = {
    val (r, w) = bytes()
    Map("fs_open" -> opens.get.toDouble, "fs_list" -> lists.get.toDouble,
      "fs_status" -> statuses.get.toDouble, "files_written" -> creates.get.toDouble,
      "fs_read_mb" -> r / 1e6, "fs_write_mb" -> w / 1e6)
  }
}
