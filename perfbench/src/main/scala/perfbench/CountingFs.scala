package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with a count of metadata and data operations.
  * Hadoop's own statistics for the local scheme count bytes but not
  * operations; the traced run installs this class as `fs.file.impl`. */
class CountingFs extends LocalFileSystem {
  private def tick(): Unit = { CountingFs.ops.incrementAndGet(); () }

  override def getFileStatus(f: Path): FileStatus = { tick(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { tick(); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { tick(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    tick(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = { tick(); super.delete(f, recursive) }
  override def rename(src: Path, dst: Path): Boolean = { tick(); super.rename(src, dst) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { tick(); super.mkdirs(f, permission) }
}

object CountingFs {
  val ops = new AtomicLong(0)
}
