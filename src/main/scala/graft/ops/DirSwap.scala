package graft.ops

import java.io.FileNotFoundException

import scala.annotation.tailrec

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The directory swap every rewrite in place commits through: stage →
  * retire → promote. A writer materializes the new generation fully in
  * `stage` (its plan may read `target`), then [[commit]] renames
  * `target` to `retiree`, renames `stage` to `target` and deletes
  * `retiree`. A directory rename is atomic on HDFS and on a local
  * filesystem, so a crash leaves one of these states, each holding a
  * complete live generation:
  *
  *  - `target`, with a partial or complete `stage` beside it: `target`
  *    is live (the crash fell before the retire);
  *  - `retiree`, with `stage`, and no `target`: `retiree` is live (the
  *    crash fell between the two renames);
  *  - `target` and `retiree`: `target` is live (the crash fell before
  *    the retiree was dropped).
  *
  * Readers call [[heal]] before they read `target`; writers call
  * [[recover]] before they look at it. `heal` restores a retiree whose
  * target is missing and drops a superseded one. It never touches a
  * stage: a reader cannot tell a crashed writer's debris from a live
  * writer's stage. `recover` heals, then deletes the stale stage; that
  * relies on the one-writer-per-target rule every caller documents.
  *
  * A reader's heal can land inside a live commit's two-rename window:
  * it sees the retiree without a target and restores it under the
  * writer. The promote then returns false or, on a filesystem that
  * renames into an existing directory (HDFS; the local filesystem's
  * copy fallback), nests the stage inside the restored target. So
  * `commit` trusts neither outcome: each round first pulls a nested
  * stage back out, and a promote counts only when no nested stage is
  * left. A losing heal's rename can nest the retiree the same way;
  * `heal` drops that copy.
  *
  * Only the writer commits. A commit that finds no stage when it
  * begins throws: it cannot tell a stage a crashed run already
  * promoted from one a second writer's `recover` deleted. Readers of
  * the IVF centroid file may also finish a crashed split through
  * [[settle]], which only ever moves a complete stage into a missing
  * target; from its second round on, a commit whose stage is gone and
  * whose target exists takes the stage as promoted that way. No reader
  * ever retires a target, so with one writer per target the retiree a
  * commit deletes is always the one it retired.
  *
  * The sites keep their own on-disk names: `__stage`/`__old` (the
  * streaming upsert sink, partitioned compaction, the source-signature
  * store, the IVF index root), `__staging`/`__old` (the pipeline's
  * warehouse load), `__migrate_stage`/`__old` (the incremental-dedup
  * label migration) and `centroids__split`/`centroids__retired` (the
  * IVF list split). A shard-store tier is only ever moved into an
  * absent directory, so it has no retiree and uses
  * [[DirSwap.promoteInto]]. */
private[graft] final case class DirSwap(fs: FileSystem, target: Path,
    stage: Path, retiree: Path) {

  /** Where a rename into an existing `target` directory puts `p`. */
  private def nestedIn(p: Path): Path = new Path(target, p.getName)

  private def move(src: Path, dst: Path) = DirSwap.promoteInto(fs, src, dst)

  /** Retire `target`, promote `stage`, drop the retiree. Throws when
    * there is no stage to commit, and after [[DirSwap.MaxRounds]]
    * promotes lost to reader heals. */
  def commit(): Unit = promote(1)

  @tailrec private def promote(round: Int): Unit = {
    val nested = nestedIn(stage)
    if (fs.exists(nested))
      require(move(nested, stage) || fs.exists(stage),
        s"stage recovery failed: $nested")
    if (!fs.exists(stage)) {
      // round 1: nothing was staged; later: a reader settled the stage
      // into the target this commit had retired
      val settled = round > 1 && fs.exists(target)
      heal()
      require(settled, s"promote failed: no $stage to commit into $target")
    } else if (round > DirSwap.MaxRounds)
      throw new IllegalStateException(s"promote of $stage lost to reader " +
        s"heals ${DirSwap.MaxRounds} times; the live generation is at " +
        s"$target or $retiree")
    else {
      if (fs.exists(target)) {
        fs.delete(retiree, true) // superseded, or a lost round's
        require(move(target, retiree) || !fs.exists(target),
          s"retire failed: $target")
      }
      if (move(stage, target) && !fs.exists(nested)) fs.delete(retiree, true)
      else promote(round + 1)
    }
  }

  /** Reader side: restore a retiree whose target is missing, drop a
    * superseded one. Never touches `stage`. */
  def heal(): Unit =
    if (fs.exists(retiree)) {
      if (fs.exists(target)) fs.delete(retiree, true)
      else {
        // concurrent readers may race this restore: losing it is fine
        // as long as someone won
        if (!move(retiree, target))
          require(fs.exists(target), s"restore failed: $retiree")
        fs.delete(nestedIn(retiree), true)
      }
    }

  /** Reader side of a swap whose readers finish a crashed commit: a
    * stage holding `_SUCCESS` (Spark's committer writes it last) moves
    * into a missing target, then [[heal]]. A target that exists is never
    * retired here, so a complete stage beside it waits for the writer. */
  def settle(): Unit = {
    if (!fs.exists(target) && fs.exists(new Path(stage, "_SUCCESS")) &&
        !move(stage, target))
      require(fs.exists(target), s"settle failed: $stage")
    heal()
  }

  /** Writer side: [[heal]], then delete the stale stage, wherever a
    * crashed commit left it. */
  def recover(): Unit = {
    heal()
    fs.delete(stage, true)
    fs.delete(nestedIn(stage), true)
  }
}

private[graft] object DirSwap {

  /** Promote rounds before [[DirSwap.commit]] gives up: each extra round
    * means a reader healed inside the two-rename window, and three in a
    * row mean something other than readers owns these paths. */
  val MaxRounds = 3

  /** Rename the directory `src` to the absent `dst`; false when the
    * rename did not happen, also when a concurrent heal or commit moved
    * `src` first (Hadoop's local filesystem throws instead). On a
    * filesystem that renames into an existing directory, a `dst` that
    * appeared meanwhile receives `src` as a child. */
  def promoteInto(fs: FileSystem, src: Path, dst: Path): Boolean =
    try fs.rename(src, dst) catch { case _: FileNotFoundException => false }

  /** The swap of the directory at `path` with its siblings
    * `path + stageSuffix` and `path + retireSuffix`, on the filesystem
    * `path` resolves to. Not the default one: with an HDFS default and a
    * `file:` target, the default handle would swap on the wrong
    * filesystem. */
  def apply(spark: SparkSession, path: String, stageSuffix: String = "__stage",
      retireSuffix: String = "__old"): DirSwap = {
    val target = new Path(path)
    DirSwap(target.getFileSystem(spark.sparkContext.hadoopConfiguration),
      target, new Path(path + stageSuffix), new Path(path + retireSuffix))
  }
}
