package graft.ops

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.Semaphore

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The directory swap under a crash at every rename and delete of
  * [[DirSwap.commit]]: after each one, a reader's `heal` or `settle`
  * and a writer's `recover` leave the target reading as the pre-state
  * or the post-state, and a writer's re-run reaches the post-state.
  * Then a reader, or a second commit, run between any two steps of a
  * commit. Plus the source guard that keeps every directory rename in
  * main code inside `DirSwap`. */
class DirSwapSpec extends AnyFunSuite {

  private val raw = FileSystem.getLocal(new Configuration()).getRawFileSystem

  private def p(s: String) = new Path(s)

  /** A generation is one directory `g_<name>` holding a data file. */
  private def generation(dir: Path, name: String): Unit = {
    val out = raw.create(new Path(dir, s"g_$name/part-0"))
    try out.write(name.getBytes(UTF_8)) finally out.close()
  }

  /** The new generation, complete: Spark's committer writes
    * `_SUCCESS` last. */
  private def staged(stage: Path): Unit = {
    generation(stage, "new")
    raw.create(new Path(stage, "_SUCCESS")).close()
  }

  private def pre(withTarget: Boolean) =
    if (withTarget) Some(Seq("g_old", "g_old/part-0")) else None
  private val post = Some(Seq("_SUCCESS", "g_new", "g_new/part-0"))

  /** A fresh target (when `withTarget`) with a complete stage beside it. */
  private final class Fixture(withTarget: Boolean) {
    private val root =
      Files.createTempDirectory("dirswap").toString + "/t"
    val target = p(root)
    val stage = p(s"${root}__stage")
    val retiree = p(s"${root}__old")
    /** Where a rename into the existing target nests the stage. */
    val nested = new Path(target, stage.getName)
    def swap(fs: FileSystem = raw) = DirSwap(fs, target, stage, retiree)
    if (withTarget) generation(target, "old")
    staged(stage)

    /** Every path under the target, relative; None when it is absent. */
    def tree: Option[Seq[String]] = {
      val t = Paths.get(target.toString)
      if (!Files.exists(t)) None
      else Some(Files.walk(t).iterator().asScala.drop(1)
        .map(t.relativize(_).toString).toSeq.sorted)
    }

    /** The target as a reader of its named children sees it: a stage
      * nested inside it is not one of them. */
    def read: Option[Seq[String]] =
      tree.map(_.filterNot(_.startsWith(stage.getName)))

    def debris: Seq[Path] = Seq(stage, retiree, nested).filter(raw.exists)
  }

  /** `raw`, except that the rename or delete after the first `k` throws
    * instead of running. With `race`, a reader's heal restores the
    * retiree the first time the stage is renamed, the window a live
    * commit shares with concurrent readers. */
  private final class Crashing(k: Int, race: Boolean, f: Fixture)
      extends FilterFileSystem(raw) {
    var steps = 0
    private var raced = !race
    private def step(): Unit = {
      if (steps == k) throw new IOException(s"crash after step $k")
      steps += 1
    }
    override def rename(src: Path, dst: Path): Boolean = {
      step()
      if (!raced && src == f.stage) {
        raced = true
        f.swap().heal()
      }
      super.rename(src, dst)
    }
    override def delete(path: Path, recursive: Boolean): Boolean = {
      step()
      super.delete(path, recursive)
    }
  }

  /** The fixture after a commit that crashed after step `k`; None when
    * the commit has fewer steps and completed. */
  private def crashed(k: Int, withTarget: Boolean,
      race: Boolean): Option[Fixture] = {
    val f = new Fixture(withTarget)
    try {
      f.swap(new Crashing(k, race, f)).commit()
      assert(f.tree == post && f.debris.isEmpty)
      None
    } catch { case e: IOException if e.getMessage.startsWith("crash") =>
      Some(f)
    }
  }

  /** Crash after every step in turn and check all three ways on. */
  private def matrix(withTarget: Boolean, race: Boolean): Int = {
    val ok = Set(pre(withTarget), post)
    var k = 0
    while (crashed(k, withTarget, race).isDefined) {
      val at = s"crash after step $k"
      // a reader: the pre- or post-state, and no stage touched
      val h = crashed(k, withTarget, race).get
      val stages = Seq(h.stage, h.nested).map(raw.exists)
      h.swap().heal()
      assert(ok.contains(h.read), at)
      assert(Seq(h.stage, h.nested).map(raw.exists) == stages, at)
      assert(!raw.exists(h.retiree), at)
      // a reader that settles: also moves a complete stage into a
      // missing target, and never retires one
      val s = crashed(k, withTarget, race).get
      val live = raw.exists(s.target)
      s.swap().settle()
      assert(ok.contains(s.read) && !raw.exists(s.retiree), at)
      if (live) assert(Seq(s.stage, s.nested).map(raw.exists) ==
        Seq(h.stage, h.nested).map(raw.exists), at)
      // a writer's recovery: the pre- or post-state, and no debris
      val r = crashed(k, withTarget, race).get
      r.swap().recover()
      assert(ok.contains(r.tree), at)
      assert(r.debris.isEmpty, at)
      // a re-run of the commit on the crashed state finishes the swap
      // while a stage is left and refuses without one
      val c = crashed(k, withTarget, race).get
      if (Seq(c.stage, c.nested).exists(raw.exists)) c.swap().commit()
      else intercept[IllegalArgumentException](c.swap().commit())
      assert(c.tree == post && c.debris.isEmpty, at)
      // a writer's full re-run: recover, stage again, commit
      val w = crashed(k, withTarget, race).get
      w.swap().recover()
      staged(w.stage)
      w.swap().commit()
      assert(w.tree == post && w.debris.isEmpty, at)
      k += 1
    }
    k
  }

  test("crash matrix: a commit over a live target, crashed at each step") {
    // delete stale retiree, retire, promote, delete retiree
    assert(matrix(withTarget = true, race = false) == 4)
  }

  test("crash matrix: a first commit into an absent target, crashed at each step") {
    // promote, delete retiree
    assert(matrix(withTarget = false, race = false) == 2)
  }

  test("crash matrix: a commit whose promote lost to a reader heal, crashed at each step") {
    // round 1: delete stale retiree, retire, promote (the reader has
    // restored the retiree, so the stage nests inside it); round 2:
    // un-nest, delete stale retiree, retire, promote, delete retiree
    assert(matrix(withTarget = true, race = true) == 8)
  }

  test("a heal or commit whose rename lost to a concurrent reader still ends with the target") {
    // the other reader moves the source first; the local filesystem then
    // throws FileNotFoundException from the losing rename
    def losing(f: Fixture) = new FilterFileSystem(raw) {
      private var won = false
      override def rename(src: Path, dst: Path): Boolean = {
        if (!won) { won = true; raw.rename(src, dst) }
        super.rename(src, dst)
      }
    }
    val h = new Fixture(withTarget = true)
    raw.rename(h.target, h.retiree)
    h.swap(losing(h)).heal()
    assert(h.read == pre(true) && !raw.exists(h.retiree))
    // two readers settling one complete stage into a missing target
    // (the IVF centroid file after a crash between retire and promote)
    val c = new Fixture(withTarget = false)
    c.swap(losing(c)).settle()
    assert(c.tree == post && c.debris.isEmpty)
  }

  /** `raw`, except that `other` runs just before the rename or delete
    * after the first `k`. */
  private final class Interleaved(k: Int, other: () => Unit)
      extends FilterFileSystem(raw) {
    var ran = false
    private var steps = 0
    private def step(): Unit = {
      if (steps == k) { ran = true; other() }
      steps += 1
    }
    override def rename(src: Path, dst: Path): Boolean = {
      step()
      super.rename(src, dst)
    }
    override def delete(path: Path, recursive: Boolean): Boolean = {
      step()
      super.delete(path, recursive)
    }
  }

  test("a reader's heal or settle between any two steps of a commit leaves the post-state") {
    for (reader <- Seq[DirSwap => Unit](_.heal(), _.settle())) {
      var k = 0
      var ran = true
      while (ran) {
        val f = new Fixture(withTarget = true)
        val fs = new Interleaved(k, () => reader(f.swap()))
        f.swap(fs).commit()
        assert(f.tree == post && f.debris.isEmpty, s"reader before step $k")
        ran = fs.ran
        k += 1
      }
      assert(k > 4) // a heal before the promote costs a second round
    }
  }

  test("a second commit run between any two steps of a commit leaves the post-state") {
    // a stage the first commit promoted is gone, so a second commit
    // after the promote refuses; one that took the stage before it
    // leaves the first commit nothing to promote, and that one refuses
    var k = 0
    var ran = true
    while (ran) {
      val f = new Fixture(withTarget = true)
      def refusing(swap: DirSwap): Unit =
        try swap.commit() catch { case _: IllegalArgumentException => () }
      val fs = new Interleaved(k, () => refusing(f.swap()))
      refusing(f.swap(fs))
      assert(f.tree == post && f.debris.isEmpty, s"second commit before step $k")
      ran = fs.ran
      k += 1
    }
    assert(k == 5)
  }

  /** `raw` for one of two operations [[interleavings]] runs: every
    * exists, rename and delete first parks until the walk gives this
    * side the turn. */
  private final class Turn(parked: Semaphore) extends FilterFileSystem(raw) {
    val go = new Semaphore(0)
    private def gate(): Unit = { parked.release(); go.acquire() }
    override def exists(f: Path): Boolean = { gate(); raw.exists(f) }
    override def rename(src: Path, dst: Path): Boolean = {
      gate()
      raw.rename(src, dst)
    }
    override def delete(f: Path, recursive: Boolean): Boolean = {
      gate()
      raw.delete(f, recursive)
    }
  }

  /** Runs `a` and `b`, each on its own thread and filesystem handle,
    * on a fresh target with a complete stage, once for every
    * interleaving of their filesystem calls (a depth-first walk over
    * the turns at which both can go), and hands `check` the fixture and
    * what each threw. Returns the number of interleavings. */
  private def interleavings(a: DirSwap => Unit, b: DirSwap => Unit)(
      check: (Fixture, Seq[Option[Throwable]]) => Unit): Int = {
    var prefix = Vector(0)
    var runs = 0
    while (prefix.nonEmpty) {
      val f = new Fixture(withTarget = true)
      val parked = new Semaphore(0)
      val turns = Seq(new Turn(parked), new Turn(parked))
      val done = Array(false, false)
      val thrown = Array[Option[Throwable]](None, None)
      val threads = Seq(a, b).zipWithIndex.map { case (op, i) =>
        val t = new Thread(() =>
          try op(f.swap(turns(i)))
          catch { case e: Throwable => thrown(i) = Some(e) }
          finally { done(i) = true; parked.release() })
        t.start()
        t
      }
      parked.acquire(2)
      var choices = Vector.empty[Int]
      while (!done(0) || !done(1)) {
        val side =
          if (done(0)) 1
          else if (done(1)) 0
          else {
            choices :+= prefix.lift(choices.size).getOrElse(0)
            choices.last
          }
        turns(side).go.release()
        parked.acquire()
      }
      threads.foreach(_.join())
      check(f, thrown.toSeq)
      runs += 1
      val last = choices.lastIndexOf(0)
      prefix = if (last < 0) Vector.empty else choices.take(last) :+ 1
    }
    runs
  }

  test("a reader's heal or settle interleaved call by call with a commit leaves the post-state") {
    // among them: a settle that checks the stage before the promote and
    // acts after it, and one whose retiree delete races the commit's
    for (reader <- Seq[DirSwap => Unit](_.heal(), _.settle())) {
      val runs = interleavings(_.commit(), reader) { (f, thrown) =>
        assert(thrown.flatten.isEmpty, thrown.flatten.mkString("\n"))
        assert(f.tree == post && f.debris.isEmpty)
      }
      assert(runs > 30)
    }
  }

  test("main code renames or moves a directory only inside DirSwap") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), main.toAbsolutePath)
    val own = Paths.get("src/main/scala/graft/ops/DirSwap.scala")
    val found = Files.walk(main).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f != own)
      .flatMap(f => Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(".rename(") ||
            line.contains("Files.move(") => s"$f:${i + 1}: ${line.trim}"
      }).toSeq
    assert(found.isEmpty, found.mkString("\n"))
  }
}
