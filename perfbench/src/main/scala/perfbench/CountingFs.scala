package perfbench

import java.io.OutputStream
import java.net.URI
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under its own scheme (`cfs:`), counting what the
  * store asks of it: file opens, positioned reads (preads) and their
  * bytes, sequential read bytes and written bytes. With `timed` on it
  * also sums the time spent inside read calls. Everything else behaves
  * exactly like `file:` (checksummed local files), so a domain under a
  * `cfs:` root is served by the same code paths as one under `file:`. */
class CountingFs extends LocalFileSystem(new CountingFs.Raw) {
  import CountingFs._

  override def getScheme: String = Scheme

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.increment()
    new FSDataInputStream(new CountingIn(super.open(f, bufferSize)))
  }

  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    new FSDataOutputStream(
      new CountingOut(
        super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)),
      null)
}

object CountingFs {
  val Scheme = "cfs"

  @volatile var timed: Boolean = false

  val opens = new LongAdder
  val preads = new LongAdder
  val preadBytes = new LongAdder
  val seqBytes = new LongAdder
  val writtenBytes = new LongAdder
  val readNanos = new LongAdder

  final case class Counts(
      opens: Long, preads: Long, preadBytes: Long, seqBytes: Long,
      writtenBytes: Long, readNanos: Long) {
    def -(o: Counts): Counts = Counts(
      opens - o.opens, preads - o.preads, preadBytes - o.preadBytes,
      seqBytes - o.seqBytes, writtenBytes - o.writtenBytes, readNanos - o.readNanos)
  }

  def snapshot(): Counts = Counts(
    opens.sum(), preads.sum(), preadBytes.sum(), seqBytes.sum(), writtenBytes.sum(),
    readNanos.sum())

  /** Register the scheme in `conf`; paths then read `cfs:/abs/dir`. */
  def register(conf: Configuration): Configuration = {
    conf.set(s"fs.$Scheme.impl", classOf[CountingFs].getName)
    conf
  }

  def path(localDir: String): String = s"$Scheme:$localDir"

  /** The raw local filesystem answering to `cfs:///`. */
  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
  }

  private def timedRead(body: => Int): Int =
    if (!timed) body
    else {
      val t0 = System.nanoTime()
      try body finally readNanos.add(System.nanoTime() - t0)
    }

  final class CountingIn(in: FSDataInputStream) extends FSInputStream {
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
    override def available(): Int = in.available()
    override def close(): Unit = in.close()

    override def read(): Int = {
      val r = timedRead(in.read())
      if (r >= 0) seqBytes.increment()
      r
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = timedRead(in.read(b, off, len))
      if (n > 0) seqBytes.add(n.toLong)
      n
    }

    override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int = {
      val n = timedRead(in.read(position, b, off, len))
      preads.increment()
      if (n > 0) preadBytes.add(n.toLong)
      n
    }

    override def readFully(position: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      timedRead { in.readFully(position, b, off, len); len }
      preads.increment()
      preadBytes.add(len.toLong)
    }
  }

  final class CountingOut(out: OutputStream) extends OutputStream {
    override def write(b: Int): Unit = { out.write(b); writtenBytes.increment() }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      writtenBytes.add(len.toLong)
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()
  }
}
