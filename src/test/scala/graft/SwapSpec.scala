package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The [[Swap]] protocol under enumerated faults (no Spark). For each
  * case, a clean run counts its create/mkdirs/rename/delete calls; then
  * for every k from 1 to that count the run is repeated on a fresh
  * directory with the k-th call failing — once as a crash (that call and
  * every later one fail) and once as a transient error (only that one).
  * After the fault, [[Swap.heal]] runs on a healthy file system and the
  * live path must hold exactly the before or exactly the after content,
  * byte for byte; re-running the same swap must then converge on the
  * after content with no aside, trash or stage left under the parent.
  */
class SwapSpec extends AnyFunSuite {
  import SwapSpec._

  private val healthy = FileSystem.getLocal(new Configuration())

  private def faulty(fault: FaultFs.Fault): FileSystem = {
    val fs = new FaultFs(fault)
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def write(fs: FileSystem, dir: Path, tree: Tree): Unit = {
    fs.mkdirs(dir)
    tree.foreach { case (rel, body) =>
      val out = fs.create(new Path(dir, rel), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
  }

  private def read(dir: Path): Option[Tree] =
    if (!healthy.exists(dir)) None
    else {
      val it = healthy.listFiles(dir, true)
      val base = healthy.makeQualified(dir).toUri.getPath.stripSuffix("/") + "/"
      Some(Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map { f =>
          val in = healthy.open(f.getPath)
          val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
          f.getPath.toUri.getPath.stripPrefix(base) -> body
        }.toMap)
    }

  /** Every file and directory under `parent` as the disk has it (dot
    * entries included, checksum files excluded). */
  private def entries(parent: Path): Set[String] = {
    val root = Paths.get(parent.toUri.getPath)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filterNot(_ == root)
      .map(p => root.relativize(p).toString)
      .filterNot(_.endsWith(".crc")).toSet
    finally walk.close()
  }

  /** Files anywhere under `parent` holding `body`. */
  private def copiesOf(parent: Path, body: String): Seq[String] = {
    val walk = Files.walk(Paths.get(parent.toUri.getPath))
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8") == body)
      .map(_.toString).toSeq
    finally walk.close()
  }

  private def expectedEntries(dirs: (String, Option[Tree])*): Set[String] =
    dirs.flatMap { case (dir, tree) =>
      tree.toSeq.flatMap(_.keys).flatMap { rel =>
        (dir + "/" + rel).split("/").inits.filter(_.nonEmpty).map(_.mkString("/"))
      } ++ tree.map(_ => dir)
    }.toSet

  private val bystander: Tree = Map("part-0" -> "untouched sibling")
  private val old: Tree = Map("part-0" -> "old 0", "part-1" -> "old 1",
    "_marker" -> "7")
  private val fresh: Tree = Map("part-0" -> "new 0", "sub/part-2" -> "new 2",
    "_marker" -> "8")
  private val erased: Tree = Map("part-0" -> "erased row a",
    "part-1" -> "erased row b")

  /** A saved-state root: stage at the sibling tmp, then swap. */
  private def replaceRoot(fs: FileSystem, parent: Path): Unit = {
    val live = new Path(parent, "state")
    val staged = new Path(parent, ".state.swap_tmp")
    fs.delete(staged, true)
    write(fs, staged, fresh)
    Swap.swap(fs, live, staged)
  }

  /** A partition leaf: stage under a dot root, swap, drop the stage. */
  private def leafSwap(content: Option[Tree])(fs: FileSystem, parent: Path): Unit = {
    val stage = new Path(parent, ".stage")
    fs.delete(stage, true)
    fs.mkdirs(stage)
    content.foreach(write(fs, new Path(stage, "k=1"), _))
    Swap.swap(fs, new Path(parent, "k=1"), new Path(stage, "k=1"))
    fs.delete(stage, true)
  }

  private val cases = Seq(
    Case("replace with no prior state", "state", None, Some(fresh), replaceRoot),
    Case("replace over a prior state", "state", Some(old), Some(fresh), replaceRoot),
    Case("leaf swap with staged content", "k=1", Some(old), Some(fresh),
      leafSwap(Some(fresh))),
    Case("leaf swap with nothing", "k=1", Some(erased), None, leafSwap(None)))

  private def setUp(c: Case): Path = {
    val parent = new Path(
      Files.createTempDirectory("graft_swap").toString, "parent")
    c.before.foreach(write(healthy, new Path(parent, c.live), _))
    write(healthy, new Path(parent, "k=2"), bystander)
    parent
  }

  /** The state every completed swap must leave: the after content at
    * the live path, the bystander untouched, nothing else. */
  private def assertConverged(c: Case, parent: Path, clue: String): Unit = {
    assert(read(new Path(parent, c.live)) == c.after, clue)
    assert(read(new Path(parent, "k=2")).contains(bystander), clue)
    assert(entries(parent) ==
      expectedEntries(c.live -> c.after, "k=2" -> Some(bystander)),
      s"$clue: no aside, trash or stage may be left")
    if (c.after.isEmpty)
      c.before.toSeq.flatMap(_.values).foreach { body =>
        assert(copiesOf(parent, body).isEmpty,
          s"$clue: an erased copy of '$body' remains")
      }
  }

  private def cleanUp(parent: Path): Unit =
    healthy.delete(parent.getParent, true)

  private def census(c: Case): Int = {
    val parent = setUp(c)
    try {
      val fault = FaultFs.census(parent.toUri.getPath)
      c.run(faulty(fault), parent)
      assertConverged(c, parent, s"${c.name}: clean run")
      fault.count
    } finally cleanUp(parent)
  }

  cases.foreach { c =>
    test(s"crash-point matrix: ${c.name}") {
      val n = census(c)
      assert(n >= 3, s"${c.name}: a clean run makes only $n mutations")
      info(s"$n mutations in a clean run, ${2 * n} faulted runs")
      for (k <- 1 to n; crash <- Seq(true, false)) {
        val clue = s"${c.name}: fault #$k of $n (${if (crash) "crash" else "transient"})"
        val parent = setUp(c)
        try {
          val live = new Path(parent, c.live)
          val fault = new FaultFs.Fault(FaultFs.Verbs, parent.toUri.getPath, k, crash)
          intercept[Exception](c.run(faulty(fault), parent))
          assert(fault.tripped, clue)
          if (!crash) {
            // a transient failure restores before it throws: no heal needed
            val got = read(live)
            assert(got == c.before || got == c.after, s"$clue: before heal, live = $got")
          }
          Swap.heal(healthy, live)
          val healed = read(live)
          assert(healed == c.before || healed == c.after, s"$clue: healed to $healed")
          assert(entries(parent).forall(e => Swap.liveName(e).isEmpty),
            s"$clue: heal must leave no aside or trash")
          assert(read(new Path(parent, "k=2")).contains(bystander), clue)
          if (c.after.isEmpty && healed.isEmpty)
            c.before.toSeq.flatMap(_.values).foreach { body =>
              assert(copiesOf(parent, body).isEmpty,
                s"$clue: healed to erased, but a copy of '$body' remains")
            }
          c.run(healthy, parent)
          assertConverged(c, parent, s"$clue, re-run")
        } finally cleanUp(parent)
      }
    }
  }

  test("swap heals first: an erase over a stranded aside leaves no copy behind") {
    val c = cases(3)
    val parent = setUp(c)
    try {
      // a crashed content swap left the leaf's only copy in its aside
      val live = new Path(parent, c.live)
      assert(healthy.rename(live, Swap.aside(live)))
      c.run(healthy, parent)
      assertConverged(c, parent, "erase over a stranded aside")
    } finally cleanUp(parent)
  }

  test("heal: a missing live path restores from its aside; an aside beside a live path purges") {
    val parent = setUp(cases(1))
    try {
      val live = new Path(parent, "state")
      assert(Swap.heal(healthy, live) == Swap.Clean)
      assert(healthy.rename(live, Swap.aside(live)))
      assert(Swap.heal(healthy, live) == Swap.Restored)
      assert(read(live).contains(old))
      write(healthy, Swap.aside(live), erased)
      assert(Swap.heal(healthy, live) == Swap.Purged)
      assert(read(live).contains(old) && !healthy.exists(Swap.aside(live)))
      assert(Swap.liveName(Swap.aside(live).getName).contains("state"))
      assert(Swap.liveName("state").isEmpty && Swap.liveName(".swap_old").isEmpty)
    } finally cleanUp(parent)
  }
}

object SwapSpec {

  /** A directory's files: relative path → content. */
  type Tree = Map[String, String]

  final case class Case(name: String, live: String,
      before: Option[Tree], after: Option[Tree],
      run: (FileSystem, Path) => Unit)
}
