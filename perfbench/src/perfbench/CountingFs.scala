package perfbench

import java.io.OutputStream
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** What a path is to the snapshot format, judged from the path alone. */
object PathClass extends Enumeration {
  val Pointer, Manifest, Stage, Data = Value

  def of(p: Path): Value = {
    val s = p.toUri.getPath
    val name = p.getName
    if (name == "MANIFEST" || name == ".MANIFEST.tmp") Pointer
    else if (s.contains("/snapshots/") || s.contains("/blooms/") ||
      s.contains("/refs/") || s.contains("/branches/") ||
      s.contains("/staged/")) Manifest
    else if (s.contains("/.stage_") || s.contains("/_temporary/")) Stage
    else Data
  }
}

/** Counters the counting filesystem feeds. `bytesWritten` is always on:
  * the amplification metrics need it in untraced runs too. Everything
  * else is recorded only while an op is open under tracing. */
object FsCounters {
  val bytesWritten = new AtomicLong()
  /** The traced op that file-system calls are charged to, if any. */
  @volatile var current: OpRec = null
  /** The thread the client runs on: its calls are driver-side metadata
    * work and get spans; executor-thread calls are only counted. */
  @volatile var clientThread: Thread = null
}

/** Hadoop `file:` filesystem that counts and times the calls the program
  * makes, then delegates to the stock local filesystem. Installed through
  * session config (`spark.hadoop.fs.file.impl`), so the program is
  * unchanged. */
class CountingFs extends FilterFileSystem(new LocalFileSystem()) {
  override def getScheme: String = "file"

  private def charge[T](what: String, p: Path)(body: => T): T = {
    val op = FsCounters.current
    if (op == null) body
    else {
      val onClient = Thread.currentThread() eq FsCounters.clientThread
      val t0 = Clock.nowMs()
      try body
      finally {
        op.fsCall(what)
        if (onClient) op.fsSpan(what, t0, Clock.nowMs())
      }
    }
  }

  private def opening[T](f: Path)(body: => T): T = {
    val op = FsCounters.current
    val in = charge("open", f)(body)
    if (op != null) {
      val cls = PathClass.of(f)
      op.opened(f, cls,
        if (cls == PathClass.Manifest || cls == PathClass.Pointer)
          fs.getFileStatus(f).getLen
        else 0L)
    }
    in
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    opening(f)(super.open(f, bufferSize))

  // the stock filter hands the open-file builder straight to the inner
  // filesystem, so the Parquet reader's opens are counted here
  override def openFile(f: Path): FutureDataInputStreamBuilder =
    opening(f)(super.openFile(f))

  override protected def openFileWithOptions(f: Path,
      parameters: org.apache.hadoop.fs.impl.OpenFileParameters)
      : java.util.concurrent.CompletableFuture[FSDataInputStream] =
    opening(f)(super.openFileWithOptions(f, parameters))

  private def counted(f: Path, out: FSDataOutputStream): FSDataOutputStream = {
    val meta = PathClass.of(f) match {
      case PathClass.Pointer | PathClass.Manifest => true
      case _ => false
    }
    val counting = new OutputStream {
      private def add(n: Long): Unit = {
        FsCounters.bytesWritten.addAndGet(n)
        val op = FsCounters.current
        if (op != null) op.wrote(meta, n)
      }
      override def write(b: Int): Unit = { out.write(b); add(1) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); add(len.toLong)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }
    new FSDataOutputStream(counting, null)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(f, charge("create", f)(super.create(f, permission, overwrite,
      bufferSize, replication, blockSize, progress)))

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(f, charge("create", f)(super.createNonRecursive(f, permission,
      flags, bufferSize, replication, blockSize, progress)))

  override def create(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: Options.ChecksumOpt): FSDataOutputStream =
    counted(f, charge("create", f)(super.create(f, permission, flags,
      bufferSize, replication, blockSize, progress, checksumOpt)))

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    counted(f, charge("create", f)(super.append(f, bufferSize, progress)))

  override def rename(src: Path, dst: Path): Boolean =
    charge("rename", dst)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    charge("delete", f)(super.delete(f, recursive))

  override def listStatus(f: Path): Array[FileStatus] =
    charge("list", f)(super.listStatus(f))

  override def listLocatedStatus(
      f: Path): RemoteIterator[LocatedFileStatus] =
    charge("list", f)(super.listLocatedStatus(f))

  override def getFileStatus(f: Path): FileStatus =
    charge("stat", f)(super.getFileStatus(f))

  override def getFileLinkStatus(f: Path): FileStatus =
    charge("stat", f)(super.getFileLinkStatus(f))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    charge("mkdirs", f)(super.mkdirs(f, permission))
}

/** The `AbstractFileSystem` twin of [[CountingFs]], so calls the program
  * makes through `FileContext` (the atomic pointer flip) are counted
  * too. */
class CountingAfs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new CountingFs(), conf, "file", false)
