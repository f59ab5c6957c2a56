package graft.grid

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.io.{FileNotFoundException, IOException, OutputStream}
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

/** A local-disk FileSystem that emulates S3A-connector SEMANTICS for
  * the commit-protocol specs:
  *
  *  - `rename` is an emulated COPY then DELETE — non-atomic, O(bytes),
  *    and crash-injectable mid-copy (leaving a torn destination and the
  *    intact source): the behavior class that makes rename-based commit
  *    protocols unsafe on object stores;
  *  - `create(overwrite)` buffers to a hidden in-flight file and
  *    materializes the WHOLE object atomically at close (a PUT: readers
  *    see the old object or the new one, never a prefix), with an
  *    injectable "connection lost before the PUT completed" failure
  *    that leaves the old object untouched.
  *
  * Registered as the `s3a` scheme via `fs.s3a.impl` in a test conf, so
  * the protocol auto-detection under test is the exact production
  * decision path. Paths are `s3a:/abs/local/dir/...` (no authority) and
  * map straight onto local disk.
  */
class MockS3FileSystem extends RawLocalFileSystem {

  override def getScheme: String = "s3a"
  override def getUri: URI = MockS3FileSystem.Name

  override def rename(src: Path, dst: Path): Boolean = {
    MockS3FileSystem.renameCalls.incrementAndGet()
    val sf = pathToFile(src)
    val df = pathToFile(dst)
    if (!sf.exists()) return false
    // client-side copy, byte-for-byte, with optional mid-copy crash
    val in = new java.io.FileInputStream(sf)
    val out = new java.io.FileOutputStream(df)
    try {
      val buf = new Array[Byte](8192)
      var copied = 0L
      var n = in.read(buf)
      while (n >= 0) {
        val limit = MockS3FileSystem.failRenameAfterBytes.get()
        if (limit >= 0 && copied + n > limit) {
          out.write(buf, 0, ((limit - copied) max 0L).toInt)
          out.close()
          throw new IOException(
            s"injected mid-copy failure renaming $src -> $dst")
        }
        out.write(buf, 0, n)
        copied += n
        n = in.read(buf)
      }
    } finally { in.close(); out.close() }
    if (!MockS3FileSystem.skipRenameDelete.get()) sf.delete()
    true
  }

  // RawLocalFileSystem implements this overload WITHOUT funneling
  // through the permission variant — route it to the atomic-PUT path
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    create(f, null, overwrite, bufferSize, replication, blockSize, progress)

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val target = pathToFile(f)
    if (!overwrite && target.exists())
      throw new IOException(s"$f already exists")
    val parent = target.getParentFile
    // two executor tasks may create the same parent at once: losing
    // that race is not a failure (an object store has no directories)
    if (parent != null && !parent.mkdirs() && !parent.isDirectory)
      throw new IOException(s"mkdirs failed for $parent")
    val inflight = new java.io.File(parent,
      s".inflight-${target.getName}-${MockS3FileSystem.seq.incrementAndGet()}")
    val under = new java.io.FileOutputStream(inflight)
    val putStream: OutputStream = new OutputStream {
      override def write(b: Int): Unit = under.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        under.write(b, off, len)
      override def close(): Unit = {
        under.close()
        if (MockS3FileSystem.failNextPutClose.getAndSet(false)) {
          // connection died before the PUT completed: the store keeps
          // the OLD object; the upload evaporates
          inflight.delete()
          throw new IOException(s"injected PUT failure for $f")
        }
        if (target.exists() && !target.delete())
          throw new IOException(s"replace failed for $f")
        if (!inflight.renameTo(target))
          throw new IOException(s"materialize failed for $f")
      }
    }
    new FSDataOutputStream(putStream, null)
  }

  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    if (!pathToFile(f).exists()) throw new FileNotFoundException(f.toString)
    super.open(f, bufferSize)
  }
}

object MockS3FileSystem {
  val Name: URI = URI.create("s3a:///")
  /** Rename invocations observed — the put-protocol pin asserts 0. */
  val renameCalls = new AtomicLong(0)
  /** >= 0: the next renames tear after this many copied bytes. */
  val failRenameAfterBytes = new AtomicLong(-1)
  /** Crash window between copy and delete: both files survive. */
  val skipRenameDelete = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** One-shot: the next create-close fails BEFORE materializing. */
  val failNextPutClose = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val seq = new AtomicLong(0)

  def reset(): Unit = {
    renameCalls.set(0)
    failRenameAfterBytes.set(-1)
    skipRenameDelete.set(false)
    failNextPutClose.set(false)
  }
}
