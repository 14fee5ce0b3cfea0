package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A hold on reads, so that `serve_mixed` can make a `/lookup` overlap a
  * relaunch on a fixed schedule instead of by chance. While armed, opening
  * one of the `held` files waits until [[release]]; every other file
  * system call on a `watched` path counts as progress.
  */
object Gate {
  private val lock = new Object
  @volatile private var held = Set.empty[String]
  @volatile private var watched = Seq.empty[String]
  private var waiting = 0
  private var open = true
  private val touches = new AtomicLong

  /** The longest a held read waits, should nothing release it. */
  val MaxHoldMs = 60000L

  def arm(files: Set[String], watch: Seq[String]): Unit = lock.synchronized {
    held = files; watched = watch; waiting = 0; open = false
  }

  def release(): Unit = lock.synchronized {
    held = Set.empty; open = true; lock.notifyAll()
  }

  /** Calls on watched paths so far. */
  def progress: Long = touches.get()

  /** Wait until a held read waits, `done` holds, or `timeoutMs` passed;
    * true in the first case.
    */
  def awaitHeld(timeoutMs: Long)(done: => Boolean): Boolean = {
    val end = System.nanoTime() + timeoutMs * 1000000L
    lock.synchronized {
      while (waiting == 0 && !done && System.nanoTime() < end) lock.wait(5)
      waiting > 0
    }
  }

  private def key(p: Path): String = p.toUri.getPath

  private[perfbench] def onOpen(p: Path): Unit =
    if (held.contains(key(p))) lock.synchronized {
      waiting += 1
      lock.notifyAll()
      val end = System.currentTimeMillis() + MaxHoldMs
      while (!open && System.currentTimeMillis() < end) lock.wait(10)
    } else touch(p)

  private[perfbench] def touch(p: Path): Unit = {
    val ws = watched
    if (ws.nonEmpty && ws.exists(key(p).startsWith)) touches.incrementAndGet()
  }
}

/** The local file system with [[Gate]] in its path. `serve_mixed` installs
  * it as `fs.file.impl` before its sessions start; with the gate open it
  * only delegates.
  */
final class GatedLocalFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    Gate.onOpen(f)
    super.open(f, bufferSize)
  }

  override def getFileStatus(f: Path): FileStatus = { Gate.touch(f); super.getFileStatus(f) }

  override def listStatus(f: Path): Array[FileStatus] = { Gate.touch(f); super.listStatus(f) }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    Gate.touch(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object GatedLocalFileSystem {
  /** Make every Spark session started afterwards in this JVM use it. */
  def install(): Unit =
    System.setProperty("spark.hadoop.fs.file.impl", classOf[GatedLocalFileSystem].getName)
}
