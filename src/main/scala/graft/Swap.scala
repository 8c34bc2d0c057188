package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** THE crash-safe replacement of one live directory: every saved-state
  * root ([[graft.ext.SketchState.swapInState]] and what is built on it),
  * every lake leaf [[graft.fred.io.LakeIO]]'s one commit writes (layer
  * writes, per-batch stream outputs, `compactFragmented`, `deleteWhere`)
  * and every leaf [[graft.fred.Pipeline.propagateDelete]] erases commits
  * here. The reference overwrites in place (`load_bytes(replace=True)`),
  * which deletes the only copy before the new one lands.
  *
  * [[swap]]: the caller stages the complete new copy at a dot-prefixed
  * `staged` path (invisible to readers). The live copy renames to its
  * aside `.<name>.swap_old`, the staged copy renames in, the aside is
  * purged. If the rename-in fails, the aside renames back before the
  * error is thrown. A MISSING `staged` means "replace with nothing": the
  * live copy renames to `.<name>.swap_del` and that one rename is the
  * commit — trash is never restored, so a crash partway through purging
  * it cannot resurrect a half-deleted copy.
  *
  * [[heal]] finishes a crashed swap: trash is purged; an aside with no
  * live copy (a crash between the two renames) renames back; an aside
  * beside a live copy (a committed swap whose purge did not finish) is
  * purged — for an erasure it is the erased rows' last copy. Readers
  * heal before they touch a swap-managed path, and [[swap]] heals
  * before it starts. After a crash anywhere in a swap, heal leaves
  * exactly the before or the after copy, and re-running the swap
  * converges on the after copy (`SwapSpec` fails every mutation of a
  * clean run in turn).
  *
  * Atomic per path, not across paths: a loop of swaps that fails midway
  * leaves earlier paths swapped and later ones untouched, and re-running
  * it converges (a table format's catalog transaction is what adds
  * cross-path atomicity).
  *
  * Not routed here, on purpose: [[graft.ext.Ivf]]'s staged erase and
  * [[graft.ext.SemDedup.rebuildSavedSemanticState]] stamp a complete
  * stage and then REDO the commit from it, so a crash after the stamp
  * rolls FORWARD to the new state; a rename swap can only restore the
  * old one, and folding them in would weaken that guarantee. */
object Swap {

  /** What [[heal]] found. */
  sealed trait Healed
  case object Clean extends Healed
  case object Restored extends Healed
  case object Purged extends Healed

  private val AsideSuffix = ".swap_old"
  private val TrashSuffix = ".swap_del"

  private def sibling(live: Path, suffix: String): Path =
    new Path(live.getParent, "." + live.getName + suffix)

  /** Where [[swap]] moves `live` while the staged copy renames in. */
  def aside(live: Path): Path = sibling(live, AsideSuffix)

  /** The live name an aside or trash sibling named `name` belongs to. */
  def liveName(name: String): Option[String] =
    Seq(AsideSuffix, TrashSuffix).collectFirst {
      case s if name.startsWith(".") && name.endsWith(s) &&
          name.length > s.length + 1 =>
        name.substring(1, name.length - s.length)
    }

  /** Replace `live` with `staged`, or with nothing if `staged` is missing. */
  def swap(fs: FileSystem, live: Path, staged: Path): Unit = {
    heal(fs, live)
    val trash = sibling(live, TrashSuffix)
    if (!fs.exists(staged)) {
      if (fs.exists(live))
        require(fs.rename(live, trash), s"could not move aside $live")
      fs.delete(trash, true)
    } else {
      val old = aside(live)
      val moved = fs.exists(live)
      if (moved) require(fs.rename(live, old), s"could not move aside $live")
      try require(fs.rename(staged, live), s"could not swap $staged into $live")
      catch {
        case e: Throwable =>
          if (moved)
            try fs.rename(old, live) catch { case r: Throwable => e.addSuppressed(r) }
          throw e
      }
      fs.delete(old, true)
    }
  }

  /** Finish whatever swap of `live` a crash interrupted. */
  def heal(fs: FileSystem, live: Path): Healed = {
    val erased = fs.delete(sibling(live, TrashSuffix), true)
    val old = aside(live)
    if (!fs.exists(old)) { if (erased) Purged else Clean }
    else if (fs.exists(live)) { fs.delete(old, true); Purged }
    else {
      require(fs.rename(old, live), s"could not restore $live from $old")
      Restored
    }
  }

  /** [[heal]] on the session's file system. */
  def heal(spark: org.apache.spark.sql.SparkSession, live: String): Healed = {
    val p = new Path(live)
    heal(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }
}
