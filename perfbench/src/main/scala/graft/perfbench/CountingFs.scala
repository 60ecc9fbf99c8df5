package graft.perfbench

import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with a counter on every call the engine and
  * Spark make. The traced run installs it as `fs.file.impl`, so table
  * metadata and scan traffic are counted without touching engine code.
  *
  * It extends `LocalFileSystem` (itself a `FilterFileSystem`) rather than
  * wrapping one, because `FileSystem.getLocal` casts the `file:` instance
  * to that class. Only top-level calls count: a `create` that makes its
  * parent directories is one create, not a create plus a mkdirs. Spark's
  * streaming checkpoints go through `FileContext`, not this class, so
  * they are not counted. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  private def counted[T](kind: Int, p: Path)(body: => T): T = {
    val d = depth.get
    if (d == 0) {
      counts.incrementAndGet(kind)
      if (p != null && !isData(p)) counts.incrementAndGet(MetaOps)
    }
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  override def exists(f: Path): Boolean = counted(Exists, f)(super.exists(f))
  override def getFileStatus(f: Path): FileStatus =
    counted(Status, f)(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    counted(List, f)(super.listStatus(f))
  override def listStatusIterator(f: Path) =
    counted(List, f)(super.listStatusIterator(f))
  override def listLocatedStatus(f: Path) =
    counted(List, f)(super.listLocatedStatus(f))
  override def globStatus(p: Path): Array[FileStatus] =
    counted(List, p)(super.globStatus(p))
  override def globStatus(p: Path, filter: PathFilter): Array[FileStatus] =
    counted(List, p)(super.globStatus(p, filter))
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val data = isData(f)
    val s = counted(if (data) OpenData else OpenMeta, f)(super.open(f, bufferSize))
    if (data && depth.get == 0) openedData.add(f.toUri.getPath)
    s
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(Create, f)(countBytes(super.create(f, permission, overwrite,
      bufferSize, replication, blockSize, progress)))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(Create, f)(countBytes(super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress)))
  override def rename(src: Path, dst: Path): Boolean =
    counted(Rename, src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(Delete, f)(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted(Mkdirs, f)(super.mkdirs(f, permission))
  override def mkdirs(f: Path): Boolean = counted(Mkdirs, f)(super.mkdirs(f))

  private def countBytes(out: FSDataOutputStream): FSDataOutputStream =
    if (depth.get > 1) out // an inner create: the outer one wraps
    else new FSDataOutputStream(new java.io.FilterOutputStream(out) {
      override def write(b: Int): Unit = { out.write(b); counts.incrementAndGet(BytesWritten) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); counts.addAndGet(BytesWritten, len.toLong)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }, null)
}

object CountingFs {
  val Exists = 0; val Status = 1; val List = 2; val OpenMeta = 3; val OpenData = 4
  val Create = 5; val Rename = 6; val Delete = 7; val Mkdirs = 8
  val BytesWritten = 9; val MetaOps = 10
  /** Metric names, indexed by the constants above. */
  val Names: IndexedSeq[String] = IndexedSeq("exists", "status", "list",
    "open_meta", "open_data", "create", "rename", "delete", "mkdirs",
    "bytes_written", "meta_ops")

  private val counts = new AtomicLongArray(Names.size)
  private val depth = ThreadLocal.withInitial[Int](() => 0)
  /** Distinct data files opened since the last [[resetOpened]]. */
  val openedData: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def isData(p: Path): Boolean = p.getName.endsWith(".parquet")

  def snapshot(): IndexedSeq[Long] = Names.indices.map(counts.get)
  def resetOpened(): Unit = openedData.clear()
}
