package graft.sources

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Local filesystem under the `crash://` scheme whose mutations can be
  * made to fail at a chosen point of a store operation — a process kill
  * between two steps, as seen by everything that runs after it. Once
  * the armed trigger fires, EVERY later mutation under the armed root
  * fails too (the process is dead), until [[CrashFs.disarm]].
  *
  * Mutations are classified by the store-relative top-level dir: a name
  * in the armed meta set is a META step, anything else (except
  * `_lease`) a PAYLOAD step.
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("crash:///")
  override def getScheme: String = "crash"

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashFs.check(f, CrashFs.Write)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashFs.check(f, CrashFs.Write)
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CrashFs.check(f, CrashFs.Mkdir)
    super.mkdirs(f, permission)
  }

  override def mkdirs(f: Path): Boolean = {
    CrashFs.check(f, CrashFs.Mkdir)
    super.mkdirs(f)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.check(src, CrashFs.Write)
    CrashFs.check(dst, CrashFs.Write)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.check(p, CrashFs.Delete)
    super.delete(p, recursive)
  }
}

object CrashFs {
  sealed trait Op
  case object Mkdir extends Op
  case object Write extends Op
  case object Delete extends Op

  /** Where the kill lands. */
  sealed trait Point
  /** On the first meta FILE write after a payload file was written:
    * the payload is on disk, its meta commit never lands (directories
    * on the way to it may). */
  case object AfterPayloadWrite extends Point
  /** On the first mutation of the other kind than the operation's first
    * mutation: a two-step operation stops after its first step. */
  case object AfterFirstStep extends Point

  private var root: String = null
  private var metaDirs = Set.empty[String]
  private var point: Point = AfterPayloadWrite
  private var firstIsMeta: Option[Boolean] = None
  private var payloadWritten = false
  private var dead = false
  @volatile var fired = false

  def register(conf: org.apache.hadoop.conf.Configuration): Unit =
    conf.set("fs.crash.impl", classOf[CrashFs].getName)

  /** A store dir on this filesystem for a local path. */
  def uri(localPath: String): String = s"crash://$localPath"

  def arm(storeDir: String, metas: Set[String], at: Point): Unit = synchronized {
    root = new Path(storeDir).toUri.getPath
    metaDirs = metas
    point = at
    firstIsMeta = None
    payloadWritten = false
    dead = false
    fired = false
  }

  def disarm(): Unit = synchronized {
    root = null
    dead = false
  }

  private def check(p: Path, op: Op): Unit = synchronized {
    if (root == null) return
    val s = p.toUri.getPath
    if (!s.startsWith(root + "/")) return
    val top = s.drop(root.length + 1).takeWhile(_ != '/')
    if (top == "_lease") return
    val isMeta = metaDirs.contains(top)
    val trigger = point match {
      case AfterPayloadWrite => isMeta && payloadWritten && op == Write
      case AfterFirstStep => firstIsMeta.exists(_ != isMeta)
    }
    if (dead || trigger) {
      dead = true
      fired = true
      throw new IOException(s"injected crash at $op of $s")
    }
    if (firstIsMeta.isEmpty) firstIsMeta = Some(isMeta)
    if (op == Write && !isMeta) payloadWritten = true
  }
}
