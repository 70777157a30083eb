package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}

/** The local Hadoop filesystem with list, open, rename and delete calls
  * counted. The stock local filesystem keeps byte counts only, so traced
  * runs install this one for the `file` scheme. Operations made through
  * `java.nio` instead of Hadoop are not seen. */
class CountingFs extends LocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] = { CountingFs.ops.incrementAndGet(); super.listStatus(p) }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = { CountingFs.ops.incrementAndGet(); super.open(p, bufferSize) }
  override def rename(src: Path, dst: Path): Boolean = { CountingFs.ops.incrementAndGet(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { CountingFs.ops.incrementAndGet(); super.delete(p, recursive) }
}

object CountingFs {
  val ops = new AtomicLong(0L)
}
