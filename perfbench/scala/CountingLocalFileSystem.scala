package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The `file:` filesystem with op counters, installed as `fs.file.impl`
  * in the traced run only: Hadoop's local filesystem keeps byte counts but
  * counts no read, list or write ops. Opens are reads, `listStatus` calls
  * are lists, and creates, renames, deletes and mkdirs are writes. Code
  * that unwraps the checksummed filesystem to its raw one (the MapReduce
  * output commit does) is not counted. */
final class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
}

object CountingLocalFileSystem {
  val reads = new AtomicLong
  val lists = new AtomicLong
  val writes = new AtomicLong
}
