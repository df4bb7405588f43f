package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** The shard-partitioned layout the persisted stores share
  * ([[IncrementalDedup]], [[ExactSubstrStore]], [[SemDedupStore]],
  * [[CdcStore]], [[Bm25Store]]): shard listing, shard writes,
  * size-tiered compaction and the `meta/` memo, implemented once. The
  * stores keep what is theirs — bucketing, dedup keys, probes, meta
  * column encodings, return shapes — and hand this object their paths,
  * schemas and consolidation rules.
  *
  * Layout: every store table is a parquet directory partitioned first
  * by `ingest_shard`, optionally nested further (`__bkt`). A shard
  * write is a dynamic partition overwrite of its own directory, so a
  * crash replay under the same shard id rewrites identical rows over
  * any half-written attempt and touches nothing else.
  *
  * Compaction protocol ([[compact]]): the shards at or under
  * `tierMaxBytes` are the sources; their consolidated rows are staged
  * in a sibling `<table>__compact_stage` directory (a stray subdirectory
  * inside the partitioned table would break partition discovery), a
  * `_sources` manifest listing the sources is written into the stage
  * (the leading `_` keeps Spark's file listing from reading it), and
  * the stage is renamed in as the tier partition; then the sources are
  * deleted. The tier is named `compacted_` + the SHA-256 of the sorted,
  * length-prefixed source names, so two different source sets never
  * share a name. A re-run that finds its tier already in place crashed
  * after the rename: it checks the tier's manifest against the current
  * source list, then only finishes the deletions. A manifest that does
  * not match fails the run with `require` and deletes nothing. A tier
  * at or under the threshold is itself a source of the next run, which
  * absorbs any leftover copies through the table's consolidation rule.
  *
  * Single-writer contract: one ingest or compaction per store at a
  * time. Concurrent writers would interleave dynamic partition
  * overwrites and tier renames. A store's readers may run in other
  * processes: the meta memo re-reads `meta/` whenever its modification
  * time changes. */
private[ops] object ShardStore {

  private val ShardCol = "ingest_shard"
  private val ShardPrefix = ShardCol + "="
  private val TierPrefix = "compacted_"
  private val ManifestName = "_sources"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def shardDir(table: Path, shard: String): Path =
    new Path(table, ShardPrefix + shard)

  private def list(fs: FileSystem, table: Path): Seq[String] =
    if (!fs.exists(table)) Nil
    else fs.listStatus(table).toSeq.collect {
      case s if s.isDirectory && s.getPath.getName.startsWith(ShardPrefix) =>
        s.getPath.getName.stripPrefix(ShardPrefix)
    }

  /** The shard ids present under the table at `path` — one driver-side
    * directory listing, no data read. Empty when the table is absent. */
  def shards(spark: SparkSession, path: String): Seq[String] = {
    val table = new Path(path)
    list(fsOf(spark, table), table)
  }

  /** Land `df` as shard `shardId` of the table at `path` by dynamic
    * partition overwrite; `nested` partition columns (already on `df`)
    * sit under the shard directory. */
  def write(df: DataFrame, path: String, shardId: String,
      nested: String*): Unit =
    df.withColumn(ShardCol, lit(shardId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(ShardCol +: nested: _*)
      .parquet(path)

  /** One table as compaction sees it: its read schema (with
    * `ingest_shard`), the rule that folds the absorbed sources' rows
    * into one partition, and the partition columns nested under it. */
  final case class Table(path: String, schema: StructType,
      consolidate: DataFrame => DataFrame, nested: Seq[String] = Nil)

  /** Size-tiered compaction of `table` (the protocol in the object
    * scaladoc). `sidecars` fold under the same tier name and manifest,
    * from whichever of the sources they hold, before any source is
    * deleted. Returns (shards before, shards after) of `table`. */
  def compact(spark: SparkSession, tierMaxBytes: Long, table: Table,
      sidecars: Table*): (Int, Int) = {
    val dir = new Path(table.path)
    val fs = fsOf(spark, dir)
    val before = list(fs, dir)
    val sources = before.filter(s =>
      fs.getContentSummary(shardDir(dir, s)).getLength <= tierMaxBytes)
      .sorted
    if (sources.size <= 1) return (before.size, before.size)
    val manifest = sources.map(s => s"${s.length}:$s\n").mkString
    val tier = TierPrefix + java.util.HexFormat.of().formatHex(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(manifest.getBytes(UTF_8)))
    val folded = (table -> sources) +: sidecars.map(t => t ->
      sources.filter(s => fs.exists(shardDir(new Path(t.path), s))))
    for ((t, present) <- folded) fold(spark, fs, t, tier, manifest, present)
    // the table's own sources go last: until they are gone, a re-run
    // derives the same tier name for every sidecar
    for ((t, present) <- folded.reverse; s <- present)
      fs.delete(shardDir(new Path(t.path), s), true)
    (before.size, list(fs, dir).size)
  }

  /** Stage, stamp and rename in tier `tier` of `t` from `sources` — or,
    * when the tier is already in place, require that its manifest names
    * exactly these sources before the caller deletes them. */
  private def fold(spark: SparkSession, fs: FileSystem, t: Table,
      tier: String, manifest: String, sources: Seq[String]): Unit = {
    val target = shardDir(new Path(t.path), tier)
    if (fs.exists(target)) {
      val mf = new Path(target, ManifestName)
      val found =
        if (!fs.exists(mf)) None
        else {
          val in = fs.open(mf)
          try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
        }
      require(found.contains(manifest),
        s"$target already exists but its $ManifestName manifest does not " +
          s"list the current sources (${sources.mkString(", ")}); refusing " +
          "to delete them")
    } else if (sources.nonEmpty) {
      val stage = new Path(t.path + "__compact_stage")
      fs.delete(stage, true) // leftover from a crashed attempt
      val w = t.consolidate(spark.read.schema(t.schema).parquet(t.path)
          .filter(col(ShardCol).isin(sources: _*)).drop(ShardCol))
        .write.mode("overwrite")
      (if (t.nested.isEmpty) w else w.partitionBy(t.nested: _*))
        .parquet(stage.toString)
      val out = fs.create(new Path(stage, ManifestName), true)
      try out.write(manifest.getBytes(UTF_8)) finally out.close()
      require(fs.rename(stage, target), s"compact promote failed: $stage")
    }
  }

  // (kind, dir) -> (modification time of dir when loaded, value)
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Any)]()

  /** `dir`'s modification time — one getFileStatus, no Spark job. */
  private def stamp(spark: SparkSession, dir: String): Option[Long] = {
    val p = new Path(dir)
    try Some(fsOf(spark, p).getFileStatus(p).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** `load`, memoized per (`kind`, `dir`) for as long as `dir`'s
    * modification time is unchanged: a store's parameters cost a Spark
    * execution to read and change only on a rebuild, which rewrites
    * `dir` — in this process or another. `kind` namespaces the store
    * family. An absent `dir` is never memoized (`load` raises). On a
    * filesystem that reports a constant directory modification time,
    * only in-process rewrites ([[remember]]) refresh the entry. */
  def cached[T](spark: SparkSession, kind: String, dir: String)(
      load: => T): T =
    stamp(spark, dir) match {
      case None => load
      case Some(t) =>
        memo.get((kind, dir)) match {
          case (`t`, v) => v.asInstanceOf[T]
          case _ =>
            val v = load
            memo.put((kind, dir), (t, v))
            v
        }
    }

  /** Record `v` as the memoized value of the just-(re)written `dir`. */
  def remember[T](spark: SparkSession, kind: String, dir: String,
      v: T): Unit =
    stamp(spark, dir).foreach(t => memo.put((kind, dir), (t, v)))

  /** Write a store's one-row `meta/` table from `cols` and memoize the
    * parameters `v` it encodes. */
  def writeMeta[T](spark: SparkSession, kind: String, dir: String, v: T)(
      cols: Column*): Unit = {
    spark.range(1).select(cols: _*).write.mode("overwrite").parquet(dir)
    remember(spark, kind, dir, v)
  }

  /** A store's parameters decoded from its one-row `meta/` table,
    * memoized by [[cached]]. */
  def readMeta[T](spark: SparkSession, kind: String, dir: String)(
      decode: Row => T): T =
    cached(spark, kind, dir)(decode(spark.read.parquet(dir).head()))
}
