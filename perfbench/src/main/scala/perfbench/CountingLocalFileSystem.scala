package perfbench

import java.nio.ByteBuffer
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong
import java.util.function.{Consumer, IntFunction}

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting its metadata and open/create operations.
  * Hadoop's own statistics count bytes for `file:` but never ops, so the
  * benchmark registers this class as `fs.file.impl` for its runs. Reads are
  * opens, listings and status probes; writes are creates, renames, deletes
  * and mkdirs. Bytes of vectored reads (which parquet uses for column
  * chunks, and which Hadoop's byte statistics miss) are counted too, as the
  * lengths of the ranges requested; the stream still reads them itself. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.{reads, writes}

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet()
    new CountingLocalFileSystem.VectoredCounting(super.open(f, bufferSize))
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
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
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  val reads = new AtomicLong
  val writes = new AtomicLong
  val vectoredBytes = new AtomicLong

  private final class VectoredCounting(in: FSDataInputStream) extends FSDataInputStream(in) {
    private def count(ranges: java.util.List[_ <: FileRange]): Unit =
      ranges.forEach(r => vectoredBytes.addAndGet(r.getLength.toLong))
    override def readVectored(ranges: java.util.List[_ <: FileRange],
        allocate: IntFunction[ByteBuffer]): Unit = {
      count(ranges); super.readVectored(ranges, allocate)
    }
    override def readVectored(ranges: java.util.List[_ <: FileRange],
        allocate: IntFunction[ByteBuffer], release: Consumer[ByteBuffer]): Unit = {
      count(ranges); super.readVectored(ranges, allocate, release)
    }
  }
}
