package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sink operators K1-K5 (SURVEY.md §2.2).
  *
  * Reference: `/root/reference/src/loading/readshift_loader.py` (JDBC write,
  * staged merge/upsert), `s3_loader.write_delta` contract
  * (`/root/reference/src/orchestration/main.py:138-143,201-206,262-267`,
  * partition cols `config/config.json:70`), CSV write
  * (`/root/reference/src/seed/data_seed.py:241-243`).
  */
object Sinks {

  /** K1 — JDBC write (readshift_loader.py:27-66): modes append/overwrite/
    * error, optional pre/post SQL shipped as JDBC session options. */
  def jdbc(df: DataFrame, url: String, table: String, user: String,
      password: String, driver: String, mode: String = "append",
      preactions: Option[String] = None,
      postactions: Option[String] = None): Unit = {
    var w = df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
      .option("driver", driver).mode(mode)
    preactions.foreach(sql => w = w.option("preactions", sql))
    postactions.foreach(sql => w = w.option("postactions", sql))
    w.save()
  }

  /** K2 — keyed upsert, the local-native equivalent of the reference's
    * staging-table merge (readshift_loader.py:68-149: write staging, then
    * `UPDATE ... FROM staging` + `INSERT ... LEFT JOIN ... WHERE key IS
    * NULL`). Without a warehouse or Delta jars, the same semantics as a pure
    * DataFrame expression: matched target rows take the staging version
    * (UPDATE leg), unmatched staging rows are inserted (INSERT leg), i.e.
    *   result = staging UNION (target ANTI-JOIN staging on keys).
    * Shuffle profile: one hash exchange per side on the key — identical to
    * what Delta MERGE plans for the same inputs.
    */
  def upsert(target: DataFrame, staging: DataFrame, keyColumns: Seq[String]): DataFrame = {
    val cols = target.columns.toSeq
    staging.select(cols.map(col): _*)
      .unionByName(target.join(staging.select(keyColumns.map(col): _*),
        keyColumns, "left_anti"))
  }

  /** K2 fallback leg — truncate-and-load (readshift_loader.py:130-144):
    * target is replaced wholesale by the staging frame. */
  def truncateAndLoad(staging: DataFrame): DataFrame = staging

  /** SCD2 (type-2 slowly-changing-dimension) merge — the history-keeping
    * sibling of [[upsert]] every warehouse dim load eventually needs
    * (the reference's staged-merge pattern, readshift_loader.py:68-149,
    * overwrites in place and loses history). `target` carries
    * (`effectiveCol`, `endCol`) validity columns with `endCol IS NULL`
    * marking current rows; `staging` carries the same schema with
    * `effectiveCol` = the change's effective date. Five legs, all from ONE
    * current-vs-staging key join (null-safe attribute compare) plus one
    * anti-join:
    *   - history rows (endCol set) carry through untouched;
    *   - current rows whose staged attributes differ close out
    *     (`endCol := staging effective date`);
    *   - the staged versions of those keys insert as new current rows;
    *   - current rows unmatched-or-unchanged carry through;
    *   - staged keys absent from the target insert as current.
    * Shuffle profile: one hash exchange per side on the key, shared by the
    * join legs — the same cost as a Delta MERGE of the equivalent
    * WHEN MATCHED / NOT MATCHED clauses.
    *
    * PRECONDITION: at most ONE staging row per key (a Delta MERGE throws
    * on multiple source matches for the same reason — fanning a current
    * row out to several staged versions would emit conflicting open rows
    * and break the one-current-row-per-key invariant). Enforced with one
    * cheap aggregate job on the (small) staging frame; pass
    * `checkUniqueStaging = false` only when uniqueness is guaranteed
    * upstream. */
  def scd2Merge(target: DataFrame, staging: DataFrame, keyCols: Seq[String],
      compareCols: Seq[String], effectiveCol: String = "valid_from",
      endCol: String = "valid_to",
      checkUniqueStaging: Boolean = true): DataFrame = {
    if (checkUniqueStaging) {
      val dups = staging.groupBy(keyCols.map(col): _*)
        .count().filter(col("count") > 1).count()
      require(dups == 0,
        s"scd2Merge staging has $dups keys with multiple rows — collapse " +
          "to one change per key per batch (same contract as Delta MERGE)")
    }
    val cols = target.columns.toSeq
    val current = target.filter(col(endCol).isNull)
    val history = target.filter(col(endCol).isNotNull)
    val stg = staging.select(cols.map(col): _*)
    val sPref = stg.select(stg.columns.map(c => col(c).as(s"__s_$c")): _*)
    val joinCond = keyCols.map(k => col(k) === col(s"__s_$k")).reduce(_ && _)
    val j = current.join(sPref, joinCond, "left")
    val matched = col(s"__s_${keyCols.head}").isNotNull
    val changed = compareCols.map(c => !(col(c) <=> col(s"__s_$c"))).reduce(_ || _)
    val closed = j.filter(matched && changed).select(cols.map {
      case c if c == endCol => col(s"__s_$effectiveCol").as(endCol)
      case c => col(c)
    }: _*)
    val carried = j.filter(!matched || !changed).select(cols.map(col): _*)
    val newVersions = j.filter(matched && changed)
      .select(cols.map(c => col(s"__s_$c").as(c)): _*)
    val inserts = stg.join(current.select(keyCols.map(col): _*), keyCols, "left_anti")
    history.unionByName(closed).unionByName(carried)
      .unionByName(newVersions).unionByName(inserts)
  }

  /** K4 — partitioned write (s3_loader.write_delta contract; partition cols
    * `transaction_year, transaction_month` from config.json:70). Delta
    * format when available, else parquet — layout and write-side partition
    * pruning are identical. */
  def writePartitioned(df: DataFrame, path: String, mode: String = "append",
      partitionCols: Seq[String] = Nil, format: String = "parquet"): Unit = {
    var w = df.write.format(format).mode(mode)
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
    try w.save(path)
    catch {
      case _: Exception if format == "delta" =>
        writePartitioned(df, path, mode, partitionCols, "parquet")
    }
  }

  /** K3 — remote SQL execution (readshift_loader.py:151-182): the reference
    * ships arbitrary SQL to the warehouse as the `postactions` of a one-row
    * dummy JDBC write (JDBC writers have no plain "execute" API). Engine-
    * external by design; kept API-complete for warehouse deployments, not
    * exercised by the local harness. */
  def executeRemoteSql(spark: org.apache.spark.sql.SparkSession, url: String,
      user: String, password: String, driver: String, sql: String,
      dummyTable: String = "graft_dummy_exec"): Unit = {
    import spark.implicits._
    Seq(1).toDF("dummy").write.format("jdbc")
      .option("url", url).option("dbtable", dummyTable)
      .option("user", user).option("password", password)
      .option("driver", driver).option("postactions", sql)
      .mode("overwrite").save()
  }

  /** Bucketed + sorted table write: pre-shuffles once at write time so
    * later equi-joins/aggregations on the bucket key plan with NO exchange
    * (co-located partitions). The at-scale answer to "this join shuffles
    * 100 TB every night": pay the shuffle once, reuse it every query.
    * Requires a table (catalog) rather than a bare path. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** ORC write (pairs with [[graft.sources.Sources.orc]]; format
    * completeness for ORC-resident warehouse estates). Columnar with
    * min/max stripe statistics, so the read side keeps predicate
    * pushdown and column pruning exactly like parquet. */
  def orc(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).orc(path)

  /** K5 — CSV write with header (data_seed.py:241-243). */
  def csv(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  /** Extension (SURVEY.md §2.15.8): persist quality-check results so the
    * monitoring queries (`monitor.py:10-26`) have a real table to read. */
  def writeQualityResults(df: DataFrame, path: String): Unit =
    df.withColumn("execution_date", current_timestamp())
      .write.mode(SaveMode.Append).parquet(path)

  /** All parquet data files under `dir`, recursively (partition dirs
    * included; excludes _SUCCESS / checksums). */
  private def parquetFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.LocatedFileStatus]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) buf += f
    }
    buf.toSeq
  }

  /** Parquet data-file count under a path — the observable the compaction
    * queries check (and a cheap ops metric: file count vs partition count
    * is the small-file-problem dashboard number). */
  def parquetFileCount(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    parquetFiles(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).size
  }

  /** Small-file compaction — the warehouse-hygiene pass a 100 TB pipeline
    * runs nightly. Every appending producer (streaming sinks, incremental
    * loads, [[writePartitioned]] under high `shuffle.partitions`) leaves
    * partitions holding many task-sized files; at scale the NameNode/
    * listing cost and per-file open overhead of a million small files
    * dominates scan time long before data volume does.
    *
    * Rewrites the dataset so each output file carries ~`targetFileBytes`:
    * reads the dataset, derives a `maxRecordsPerFile` cap from the
    * OBSERVED on-disk bytes-per-row (compressed, so the cap speaks the
    * same units as the files it limits — NOTE this is a whole-dataset
    * average, so per-partition file sizes track the target only as far
    * as compressibility is uniform across partition values), and
    * range-partitions by the partition columns PLUS a per-row salt sized
    * from each partition value's observed share of the bytes: a
    * partition expected to need f files salts `pmod(xxhash64(row), f)`,
    * so a hot partition fans out to ~f parallel tasks/files while every
    * partition small enough for one file keeps salt 0 — and with it the
    * one-file-per-partition layout (q51's pinned invariant). Without the
    * salt, range partitioning maps each partition VALUE to one task, and
    * a skewed value (one hot day) writes through a single core with
    * `maxRecordsPerFile` splitting its output serially — the 100 TB
    * nightly-compaction bottleneck. The rewrite swaps in through
    * [[graft.ops.DirSwap]] (`<path>__stage`, `<path>__old`), which first
    * recovers a previous crash. Single-writer like every bare-parquet
    * swap; a lakehouse table format would commit the same rewrite
    * atomically.
    *
    * Returns (files before, files after). Content is byte-identical by
    * construction — same rows, same schema, new file layout (q51 pins
    * this against the DuckDB oracle). */
  def compactPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, partitionCols: Seq[String],
      targetFileBytes: Long = 128L << 20): (Long, Long) = {
    require(partitionCols.nonEmpty,
      "compactPartitioned needs the dataset's partition columns")
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val swap = graft.ops.DirSwap(spark, path)
    swap.recover()
    val before = parquetFiles(swap.fs, swap.target)
    val totalBytes = before.map(_.getLen).sum
    val df = spark.read.parquet(path)
    // Per-partition-value target file counts from the value's row share
    // of the observed bytes. The counts frame is one row per partition
    // value (bounded — it IS the directory count being compacted), so
    // the join broadcasts; identical range keys land in one shuffle
    // partition, so a salt-0-only (small) partition still emits exactly
    // one file. Persisted: it is read for the total-row derivation AND
    // broadcast into the salting join — without the persist the second
    // consumer would re-scan the dataset (compaction input scans: counts
    // aggregate + join probe side, two total).
    val counts = df.groupBy(partitionCols.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .select(partitionCols.map(c => col(c).as(s"__pc_$c")) :+ col("__cnt"): _*)
      .persist()
    val rows = counts.agg(coalesce(sum(col("__cnt")), lit(0L)))
      .head().getLong(0)
    val bytesPerRow = math.max(1L, totalBytes / math.max(rows, 1L))
    val maxRecords = math.max(1L, targetFileBytes / bytesPerRow)
    val dataCols = df.columns
    // NULL-SAFE join on the partition columns: Spark writes rows with a
    // null partition value under __HIVE_DEFAULT_PARTITION__ and reads
    // them back as null — an equi-join would silently DROP those rows
    // from the rewrite (data loss the byte-identity contract forbids)
    val joinCond = partitionCols.map(c => col(c) <=> col(s"__pc_$c"))
      .reduce(_ && _)
    val salted = df.join(broadcast(counts), joinCond)
      .drop(partitionCols.map(c => s"__pc_$c"): _*)
      .withColumn("__salt", pmod(xxhash64(struct(dataCols.map(col): _*)),
        greatest(lit(1L), ceil(col("__cnt") * lit(bytesPerRow) /
          lit(targetFileBytes)).cast("long"))))
    // Enough range buckets that a hot partition's salt values actually
    // spread across tasks instead of collapsing back into one range
    // chunk: CAPPED by the target file count (no point in more tasks
    // than files — maxRecordsPerFile handles within-task splitting) and
    // by 4x the configured shuffle width (the cluster's useful
    // parallelism knob; a 1000-executor deployment raises it).
    val shuffleWidth = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val numTasks = math.max(1L, math.min(4L * shuffleWidth,
      1L + totalBytes / targetFileBytes)).toInt
    salted.repartitionByRange(numTasks,
        (partitionCols.map(col) :+ col("__salt")): _*)
      .select(dataCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecords)
      .partitionBy(partitionCols: _*)
      .parquet(swap.stage.toString)
    counts.unpersist()
    swap.commit()
    (before.size.toLong, parquetFiles(swap.fs, swap.target).size.toLong)
  }
}
