package graftbench

import java.io.OutputStream
import java.util.EnumSet
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream,
  FSInputStream, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file://` that counts metadata calls and bytes by operation. The traced
  * session installs it through `spark.hadoop.fs.file.impl`; nothing else
  * does. It extends [[LocalFileSystem]] (itself a `FilterFileSystem` over
  * the raw local FS), so checksum files and every `instanceof
  * LocalFileSystem` check behave exactly as without it.
  *
  * Only the outermost call of a thread is counted: `exists` calls
  * `getFileStatus`, a glob lists and stats, and those inner calls are part
  * of the one operation the caller asked for.
  *
  * Not seen: I/O through Hadoop's `FileContext` (Spark's streaming
  * checkpoint and offset logs), which goes through `AbstractFileSystem`.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.counted

  override def globStatus(p: Path): Array[FileStatus] =
    counted("glob")(super.globStatus(p))
  override def globStatus(p: Path, f: PathFilter): Array[FileStatus] =
    counted("glob")(super.globStatus(p, f))
  override def listStatus(p: Path): Array[FileStatus] =
    counted("list")(super.listStatus(p))
  override def listStatusIterator(p: Path) =
    counted("list")(super.listStatusIterator(p))
  override def listLocatedStatus(p: Path) =
    counted("list")(super.listLocatedStatus(p))
  override def getFileStatus(p: Path): FileStatus =
    counted("stat")(super.getFileStatus(p))
  override def exists(p: Path): Boolean =
    counted("stat")(super.exists(p))
  override def mkdirs(p: Path): Boolean = counted("mkdirs")(super.mkdirs(p))
  override def mkdirs(p: Path, perm: FsPermission): Boolean =
    counted("mkdirs")(super.mkdirs(p, perm))
  override def rename(src: Path, dst: Path): Boolean =
    counted("rename")(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    counted("delete")(super.delete(p, recursive))

  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create")(CountingFileSystem.countingOut(super.create(
      p, perm, overwrite, bufferSize, replication, blockSize, progress)))
  override def createNonRecursive(p: Path, perm: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted("create")(CountingFileSystem.countingOut(super.createNonRecursive(
      p, perm, flags, bufferSize, replication, blockSize, progress)))

  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    counted("open")(new FSDataInputStream(
      new CountingFileSystem.CountingIn(super.open(p, bufferSize))))
}

object CountingFileSystem {
  val ops: Seq[String] =
    Seq("glob", "list", "stat", "mkdirs", "create", "rename", "delete", "open")

  private val calls: Map[String, LongAdder] = ops.map(_ -> new LongAdder).toMap
  private val bytesRead = new LongAdder
  private val bytesWritten = new LongAdder
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  private def counted[T](op: String)(body: => T): T = {
    val d = depth.get
    if (d == 0) calls(op).increment()
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  /** Monotonic totals since the JVM started: one entry per operation,
    * plus `bytes_read` and `bytes_written`.
    */
  def snapshot(): Map[String, Long] =
    calls.map { case (k, v) => k -> v.sum } ++
      Map("bytes_read" -> bytesRead.sum, "bytes_written" -> bytesWritten.sum)

  private def countingOut(out: FSDataOutputStream): FSDataOutputStream =
    new FSDataOutputStream(new OutputStream {
      override def write(b: Int): Unit = { out.write(b); bytesWritten.increment() }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); bytesWritten.add(len)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }, null)

  private final class CountingIn(in: FSDataInputStream) extends FSInputStream {
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
    override def read(): Int = {
      val b = in.read()
      if (b >= 0) bytesRead.increment()
      b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, len)
      if (n > 0) bytesRead.add(n)
      n
    }
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(pos, b, off, len)
      if (n > 0) bytesRead.add(n)
      n
    }
    override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      in.readFully(pos, b, off, len)
      bytesRead.add(len)
    }
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }
}
