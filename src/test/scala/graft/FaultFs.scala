package graft

import java.io.IOException
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Fault injection over the local file system (a [[LocalFileSystem]],
  * itself a filter over the raw local one, so code that expects the
  * default `file:` implementation still gets it), for crash-point
  * matrices. Each create / mkdirs / rename / delete that the installed
  * [[FaultFs.Fault]] selects is counted, and the `failAt`-th one throws;
  * a crashing fault also fails every selected mutation after it, as a
  * dead process would. A recursive delete is expanded into one delete
  * per entry, children first (subdirectories before files, each group
  * by name), so a crash can land partway through a directory delete —
  * neither local disk nor an object store deletes a tree atomically, and
  * neither promises an order, so a commit must not depend on one.
  *
  * Direct use: `new FaultFs(fault)`, then `initialize`. For Spark, set
  * `fs.file.impl` to this class and `fs.file.impl.disable.cache=true` on
  * the session conf; every instance Hadoop creates through the no-arg
  * constructor reads [[FaultFs.installed]] at each call. */
class FaultFs(fault: => FaultFs.Fault) extends LocalFileSystem {
  def this() = this(FaultFs.installed)

  private def hit(verb: String, p: Path): Unit = fault.hit(verb, p)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    hit("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    hit("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    hit("mkdirs", f)
    super.mkdirs(f, permission)
  }

  override def mkdirs(f: Path): Boolean = mkdirs(f, FsPermission.getDirDefault)

  override def rename(src: Path, dst: Path): Boolean = {
    hit("rename", src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val st: Option[FileStatus] =
      try Some(getFileStatus(f)) catch { case _: java.io.FileNotFoundException => None }
    if (recursive && st.exists(_.isDirectory))
      listStatus(f).sortBy(s => (!s.isDirectory, s.getPath.getName))
        .foreach(s => delete(s.getPath, true))
    hit("delete", f)
    super.delete(f, recursive)
  }
}

object FaultFs {

  /** Which mutations count (`verbs`, on paths under `under`), which
    * one fails, and whether the failure is a crash (every later
    * selected mutation fails too) or transient (only that one). */
  final class Fault(verbs: Set[String], under: String, failAt: Int,
      crash: Boolean) {
    private val seen = new AtomicInteger
    @volatile private var dead = false
    def count: Int = seen.get
    def tripped: Boolean = dead

    private[FaultFs] def hit(verb: String, p: Path): Unit =
      if (verbs(verb) && p.toUri.getPath.startsWith(under)) {
        if (dead && crash) throw new IOException(s"injected: after crash, $verb $p")
        if (seen.incrementAndGet() == failAt) {
          dead = true
          throw new IOException(s"injected: fault #$failAt, $verb $p")
        }
      }
  }

  val Verbs: Set[String] = Set("create", "mkdirs", "rename", "delete")

  /** Counts and never fails: a clean run's mutation census. */
  def census(under: String, verbs: Set[String] = Verbs): Fault =
    new Fault(verbs, under, failAt = -1, crash = false)

  @volatile var installed: Fault = census("/")
}
