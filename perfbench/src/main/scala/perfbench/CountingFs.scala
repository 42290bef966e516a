package perfbench

import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with every FileSystem-API call counted, so the
  * traced run can report file-system operations per object put. Bound
  * to the `file` scheme only in traced runs (`perfbench-fs.xml`).
  */
object FsOps {
  val calls = new LongAdder
  val creates = new LongAdder
}

final class CountingRawFs extends RawLocalFileSystem {
  private def op[A](a: => A): A = { FsOps.calls.increment(); a }
  private def put[A](a: => A): A = { FsOps.creates.increment(); op(a) }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    put(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    put(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    op(super.open(f, bufferSize))
  override def mkdirs(f: Path): Boolean = op(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    op(super.mkdirs(f, permission))
  override def getFileStatus(f: Path): FileStatus = op(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = op(super.listStatus(f))
  override def delete(f: Path, recursive: Boolean): Boolean =
    op(super.delete(f, recursive))
  override def rename(src: Path, dst: Path): Boolean = op(super.rename(src, dst))
  override def setPermission(p: Path, permission: FsPermission): Unit =
    op(super.setPermission(p, permission))
}

final class CountingLocalFs extends LocalFileSystem(new CountingRawFs)
