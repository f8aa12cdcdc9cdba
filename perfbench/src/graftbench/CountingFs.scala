package graftbench

import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs.{FileStatus, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local (`file:`) Hadoop FileSystem with a counter per call kind.
  * Traced runs install it through `spark.hadoop.fs.file.impl`; every
  * call the engine (or Spark on its behalf) makes through Hadoop is
  * counted, including the checksum layer's own calls. Direct
  * `java.nio` file access (the store lease) bypasses it. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def getFileStatus(f: Path): FileStatus = {
    bump(Status); super.getFileStatus(f)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    bump(List); super.listStatus(f)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    bump(Create)
    if (f.getName.endsWith(".parquet")) bump(DataFile)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    bump(Create); super.mkdirs(f, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    bump(Rename); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    bump(Delete); super.delete(f, recursive)
  }

  override def open(f: Path, bufferSize: Int) = {
    bump(Open); super.open(f, bufferSize)
  }
}

object CountingFs {
  /** Call kinds; `DataFile` counts the subset of creates that are
    * parquet data files. */
  val Kinds: IndexedSeq[String] =
    IndexedSeq("status", "list", "create", "rename", "delete", "open",
      "data_file")
  private val Status = 0
  private val List = 1
  private val Create = 2
  private val Rename = 3
  private val Delete = 4
  private val Open = 5
  private val DataFile = 6

  private val counts = new AtomicLongArray(Kinds.length)

  private def bump(kind: Int): Unit = counts.incrementAndGet(kind): Unit

  def snapshot(): Array[Long] = Array.tabulate(Kinds.length)(counts.get)
}
