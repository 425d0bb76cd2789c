package etlbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RemoteIterator, LocatedFileStatus}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The `file:` FileSystem with an op counter on each metadata and data
  * call. Hadoop's own statistics report 0 ops for `file:`, so the traced
  * run installs this class through `spark.hadoop.fs.file.impl` and reads
  * [[CountingFileSystem.snapshot]] at span edges. Only Hadoop-routed I/O
  * is seen; the object sink's direct `java.nio` writes are counted from
  * the sink tree instead.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.ops

  override def listStatus(f: Path): Array[FileStatus] = { ops.list.incrementAndGet(); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    ops.list.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = { ops.status.incrementAndGet(); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { ops.open.incrementAndGet(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    ops.create.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { ops.rename.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { ops.delete.incrementAndGet(); super.delete(f, recursive) }
}

object CountingFileSystem {
  object ops { val list, status, open, create, rename, delete = new AtomicLong }
  val names: Seq[String] = Seq("list", "status", "open", "create", "rename", "delete")
  def snapshot: Seq[Long] =
    Seq(ops.list, ops.status, ops.open, ops.create, ops.rename, ops.delete).map(_.get)
}
