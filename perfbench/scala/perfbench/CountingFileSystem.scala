package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system, counting the calls that change the namespace
  * (create, rename, delete, mkdirs). Hadoop's own statistics for the
  * local file system count bytes but not these operations. Traced runs
  * install it for the `file` scheme.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.writeOps

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writeOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    writeOps.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    writeOps.incrementAndGet()
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writeOps.incrementAndGet()
    super.mkdirs(f, permission)
  }
}

object CountingFileSystem {
  val writeOps = new AtomicLong
}
