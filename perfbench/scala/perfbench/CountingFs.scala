package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, LocatedFileStatus, Path, PathFilter, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The `file` scheme's FileSystem with every metadata call counted. A
  * traced run installs it with `spark.hadoop.fs.file.impl`; the byte
  * counts come from the scheme's own Hadoop statistics. Calls that go
  * through java.nio or `FileContext` (the manifest pointer swap) bypass
  * any FileSystem and are not seen here. */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  override def listStatus(f: Path): Array[FileStatus] = { list.incrementAndGet(); super.listStatus(f) }
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] = {
    list.incrementAndGet(); super.listStatus(f, filter)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    list.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    list.incrementAndGet(); super.listStatusIterator(f)
  }
  override def getFileStatus(f: Path): FileStatus = { status.incrementAndGet(); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path): Boolean = { mkdir.incrementAndGet(); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mkdir.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = { renames.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingFs {
  val list, status, opens, creates, mkdir, renames, deletes = new AtomicLong()

  def counts: Map[String, Long] = Map("fs.list" -> list.get, "fs.status" -> status.get,
    "fs.open" -> opens.get, "fs.create" -> creates.get, "fs.mkdirs" -> mkdir.get,
    "fs.rename" -> renames.get, "fs.delete" -> deletes.get)

  private def stats = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
  private def stat(k: String): Long =
    Option(stats).flatMap(s => Option(s.getLong(k))).fold(0L)(_.longValue)

  /** Bytes the `file` scheme has read and written in this JVM. */
  def bytesRead: Long = stat("bytesRead")
  def bytesWritten: Long = stat("bytesWritten")
}
