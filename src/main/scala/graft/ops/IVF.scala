package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: k-means-partition the
  * corpus into `nc` lists, search only the `nprobe` lists nearest the
  * query. The centroid set is tiny driver state (nc x dim doubles — the
  * same shape every production IVF keeps), so:
  *  - training iterations broadcast centroids as literals and compute
  *    assignments with the native [[graft.functions.CosineSimilarity]]
  *    expression — one codegen'd pass per iteration, no joins;
  *  - the corpus is assigned once (a narrow column), and a search prunes to
  *    `nprobe` lists before exact re-ranking — the at-scale path when the
  *    corpus stops being scannable per query. Partitioning/bucketing the
  *    stored corpus by `centroid_id` turns that pruning into file skipping.
  *
  * Deterministic: initial centroids are the `nc` lowest-id vectors and
  * Lloyd's iterations are fixed-count (`iters`), so results are stable
  * across runs and engines.
  */
object IVF {

  final case class Model(centroids: Array[Array[Double]]) {
    def nc: Int = centroids.length
  }

  private def toDouble(vec: Column): Column =
    transform(vec, x => x.cast("double"))

  /** Nearest-centroid id for a vector column: best cosine, ties to the
    * HIGHEST centroid id (the original `array_max(struct(cos, cid))`
    * lexicographic contract). Runs as the native
    * [[graft.functions.NearestCentroidId]] loop expression — the
    * unrolled literal formulation blew Janino's 64 KB method limit at
    * nc=256 and silently de-codegen'd the whole assign stage; the loop
    * form is constant code size at any nc and bit-identical (pinned by
    * spec against the unrolled formulation). */
  private def assignExpr(vec: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.VectorFunctions.nearest_centroid_id(vec, centroids)

  /** Train `nc` centroids with `iters` Lloyd's iterations (cosine metric,
    * mean recombination). Collects only (nc x dim) doubles per iteration. */
  def train(emb: DataFrame, idCol: String, vecCol: String,
      nc: Int = 16, iters: Int = 5): Model =
    trainImpl(emb, idCol, vecCol, nc, iters, portable = false)

  /** [[train]] with ENGINE-PORTABLE arithmetic: the per-coordinate
    * cluster mean is an exact DECIMAL(38,18) sum cast to double, divided,
    * and rounded to 6dp after EVERY iteration — so the trained centroids
    * are a pure function of (data, nc, iters), independent of partition
    * count and aggregation order, and a SQL engine replaying the same
    * fixed-point recurrence (exact decimal sums commute) lands on
    * bit-identical centroids. `train`'s float `avg` is summation-order
    * dependent: ~1e-13 drift per iteration that Lloyd's assignment step
    * can amplify into a different clustering — the reason x15/x27 sat
    * rows-only through r10. Production indexes can keep the plain
    * trainer (the drift is semantically irrelevant there); use this one
    * when reproducibility or cross-engine verification matters. Decimal
    * aggregation costs ~2x the float path per iteration — train-time
    * only, never query-time. */
  def trainPortable(emb: DataFrame, idCol: String, vecCol: String,
      nc: Int = 16, iters: Int = 5): Model =
    trainImpl(emb, idCol, vecCol, nc, iters, portable = true)

  private def trainImpl(emb: DataFrame, idCol: String, vecCol: String,
      nc: Int, iters: Int, portable: Boolean): Model = {
    // one projected+persisted copy of the training vectors: every Lloyd's
    // iteration re-scans this narrow frame instead of re-reading (and
    // re-casting) the source — at corpus scale the input scan would
    // otherwise run iters+1 times
    val base = emb.select(col(idCol).as("__ivf_id"), toDouble(col(vecCol)).as("v"))
      .persist()
    var centroids: Array[Array[Double]] = base
      .orderBy(col("__ivf_id")).limit(nc)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    val meanExpr =
      if (portable)
        round(sum(col("x").cast(org.apache.spark.sql.types.DecimalType(38, 18)))
          .cast("double") / count(lit(1)), 6)
      else avg(col("x"))
    var it = 0
    while (it < iters) {
      val assigned = base.select(col("v"),
        assignExpr(col("v"), centroids).as("cid"))
      val means = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos")).agg(meanExpr.as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      centroids = centroids.indices
        .map(i => means.getOrElse(i, centroids(i))).toArray
      it += 1
    }
    base.unpersist()
    Model(centroids)
  }

  /** Corpus assignment: adds `centroid_id` (partition/bucket by it when
    * persisting the index). */
  def assign(emb: DataFrame, vecCol: String, model: Model): DataFrame =
    emb.withColumn("centroid_id", assignExpr(toDouble(col(vecCol)), model.centroids))

  /** ANN search: probe the `nprobe` centroid lists nearest to the query,
    * exact cosine re-rank inside them. `assigned` is the [[assign]] output
    * (precomputed once per corpus, reused across queries). */
  def search(assigned: DataFrame, queryVec: DataFrame, idCol: String,
      vecCol: String, model: Model, k: Int, nprobe: Int = 4): DataFrame = {
    val q = queryVec.head().getSeq[Any](0).map(_.toString.toDouble).toArray
    val probeIds = model.centroids.zipWithIndex.map { case (c, i) =>
      val dot = c.zip(q).map { case (a, b) => a * b }.sum
      val denom = math.sqrt(c.map(x => x * x).sum) * math.sqrt(q.map(x => x * x).sum)
      (if (denom > 0) dot / denom else 0.0, i)
    }.sortBy(-_._1).take(nprobe).map(_._2).toSeq
    assigned.filter(col("centroid_id").isin(probeIds: _*))
      .crossJoin(broadcast(queryVec))
      .withColumn("cosine_sim",
        round(Similarity.cosine(col(vecCol), col("qvec")), 6))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .select(col(idCol), col("cosine_sim"))
      .limit(k)
  }

  /** Batched ANN search: a query FRAME (qidCol, qvec) probes its `nprobe`
    * nearest lists wholly inside the plan — per-query probe ids come from a
    * literal-centroid expression (sorted (cosine, cid) struct array, top
    * `nprobe` exploded), NOT a driver `head()` per query like [[search]].
    * The probe join equi-joins on `centroid_id`, so each query scores only
    * its probed lists (with the corpus bucketed/partitioned by
    * `centroid_id` that pruning is file skipping); per-query k-selection
    * runs on the bounded-heap [[graft.plans.TopK]] operator. Equals N
    * [[search]] calls (pinned by spec). */
  def searchBatch(assigned: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, qidCol: String, model: Model, k: Int,
      nprobe: Int = 4): DataFrame = {
    val q = probeFrame(queries, qidCol, model, nprobe)
    val scored = assigned.join(q, Seq("centroid_id"))
      .withColumn("cosine_sim",
        round(Similarity.cosine(col(vecCol), col("qvec")), 6))
      .select(col(qidCol), col(idCol), col("cosine_sim"))
    Similarity.topKPerQuery(scored, qidCol, idCol, k, queries)
  }

  /** (qid, qvec, centroid_id) probe rows: each query exploded to its
    * `nprobe` nearest lists, all inside the plan — per-query probe ids
    * come from the native [[graft.functions.NearestCentroidIds]] loop
    * expression (cosine desc, cid-asc ties — the same order
    * sortBy(-cos) yields in [[search]], pinned by the
    * searchBatch-equals-N-search spec), NOT a driver `head()` per query
    * like [[search]]. The earlier unrolled struct array + full
    * array_sort grew generated code linearly in nc (the
    * [[NearestCentroidId]] Janino story on the query side) and sorted
    * all nc scores to keep a handful; the loop expression codegens at
    * any centroid count. */
  private def probeFrame(queries: DataFrame, qidCol: String, model: Model,
      nprobe: Int): DataFrame =
    queries
      .withColumn("centroid_id",
        explode(graft.functions.VectorFunctions.nearest_centroid_ids(
          toDouble(col("qvec")), model.centroids, nprobe)))
      .select(col(qidCol), col("qvec"), col("centroid_id"))

  /** Persist an assigned corpus as a BUCKETED IVF index table: bucketed
    * (and sorted) by `centroid_id` — probing a list means opening only
    * its bucket files (SelectedBucketsCount pruning, metadata-only). Pay
    * the clustering shuffle once at index-build time; every subsequent
    * batch search prunes at the scan instead of filtering after a full
    * read. CAVEAT measured on the 500k smoke: a bucket is ONE file, and
    * exact re-ranking pipelines inside the scan tasks, so a batch probing
    * p lists scores on only p cores — for scoring-heavy batches prefer
    * [[writeIndexPartitioned]], whose per-list directories hold many
    * splittable files and keep the cluster busy. */
  def writeIndex(assigned: DataFrame, table: String,
      numBuckets: Int): Unit =
    graft.sinks.Sinks.writeBucketed(assigned, table, Seq("centroid_id"),
      numBuckets)

  /** Persist an assigned corpus as a PARTITIONED-directory IVF index:
    * one directory per list. Probe pruning is directory skipping
    * (PartitionFilters at the scan — same metadata-only skip as the
    * bucketed layout) but each list keeps its producer's file
    * multiplicity and parquet's normal splittability, so the exact
    * re-rank after pruning parallelizes across the whole cluster instead
    * of one task per probed list. The preferred layout for batch
    * retrieval; the trade is many small files when nc is large and the
    * corpus per list is small (run q51-style compaction on the index). */
  def writeIndexPartitioned(assigned: DataFrame, path: String): Unit =
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** Batched ANN over the bucketed index table ([[writeIndex]] output):
    * same in-plan probe semantics as [[searchBatch]] (equal results,
    * pinned by spec), but the corpus side reads ONLY the probed lists'
    * bucket files. The batch's distinct probed ids are collected first —
    * one job on the SMALL query frame (|queries| x nprobe rows, never the
    * corpus) — because bucket pruning needs literal ids at planning time;
    * the `isin` then prunes the scan (SelectedBucketsCount < total,
    * plan-guarded) and the probe equi-join broadcasts the query side, so
    * the index never shuffles and unprobed lists are never even opened.
    * At 100 TB this is the difference between a batch search costing
    * O(probed lists) and O(corpus). */
  /** The distinct list ids a query batch will probe — the exact
    * file-skipping set [[searchBatchBucketed]] prunes the scan to. Useful
    * on its own for batch planning: a batch whose union covers every list
    * gains nothing from pruning (route it to [[searchBatch]]), while a
    * related batch (queries from one topic/session) probes a few lists
    * and skips the rest of the corpus on disk. Derived from
    * [[probeFrame]] ITSELF (one small job on the |queries| x nprobe
    * probe rows, never the corpus), so the set is guaranteed identical
    * to the ids the probe join will carry. An earlier driver-side
    * reimplementation ranked from toString-parsed query vectors, which
    * widens array<float> differently than the in-plan getFloat->double
    * cast (0.1f -> 0.1 vs 0.10000000149…) — a near-tie at the nprobe
    * boundary could then prune a list the probe join expects, silently
    * dropping its rows (ADVICE r5). */
  def probedLists(queries: DataFrame, qidCol: String, model: Model,
      nprobe: Int = 4): Array[Int] =
    probeFrame(queries, qidCol, model, nprobe)
      .select(col("centroid_id")).distinct().collect()
      .map(_.getInt(0)).sorted

  def searchBatchBucketed(spark: org.apache.spark.sql.SparkSession,
      indexTable: String, queries: DataFrame, idCol: String, vecCol: String,
      qidCol: String, model: Model, k: Int, nprobe: Int = 4): DataFrame =
    searchBatchPruned(spark, spark.table(indexTable), queries, idCol,
      vecCol, qidCol, model, k, nprobe)

  /** SELF-CONTAINED APPENDABLE INDEX — the retrieval sibling of
    * [[graft.ops.IncrementalDedup]]: a production vector store ingests new
    * embedding shards continuously and must NOT re-assign (or even
    * re-read) the existing corpus to do it. Layout under one root:
    * `vectors/` partitioned by (centroid_id, ingest_shard) — probe pruning
    * on the leading `centroid_id` directory level is unchanged, and a
    * shard append via dynamic partition overwrite replaces exactly its own
    * (list, shard) leaves, so crash-replaying an ingest is idempotent —
    * and `centroids/` persisting the trained model, because appends MUST
    * assign with the exact centroids the index was built with (standard
    * IVF semantics: centroids are frozen at build; re-training is a
    * rebuild). */
  def writeIndexAppendable(assigned: DataFrame, root: String, model: Model,
      shardId: String = "init"): Unit = {
    // a BUILD replaces the whole index: rebuilding over an existing root
    // (re-train = rebuild, per the contract above) must not leave earlier
    // appended shards' vectors — assigned with the OLD centroids — sitting
    // in lists the new model never routes probes to correctly. And the
    // replacement must be crash-safe: vectors and centroids are only
    // consistent TOGETHER (new vectors under old centroids silently
    // mis-route probes — worse than a missing dir), so the swap unit is
    // the whole index ROOT, staged as a sibling and committed through
    // [[DirSwap]] (`<root>__stage`, `<root>__old`): never a torn mix.
    val spark = assigned.sparkSession
    val swap = DirSwap(spark, root)
    swap.recover()
    val stageRoot = swap.stage.toString
    // stage FIRST: `assigned` may legitimately read the live index (a
    // rebuild re-training over the stored vectors), so the live root stays
    // untouched until the staged generation is complete
    writeVectorShard(assigned, stageRoot, shardId)
    val rows = model.centroids.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.Row(i, c.toSeq)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.IntegerType, false),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, false), false)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$stageRoot/centroids")
    // pending ID tombstones ride into the staged generation: deleted ids
    // must STAY deleted across a rebuild (the erasure contract says
    // nothing about re-training), and the retire/delete of the old root
    // would otherwise silently resurface them. Read happens here — before
    // the promote touches the live root. compactVectors remains the only
    // operation that clears tombstones, by applying them. LIST tombstones
    // ([[splitList]]) do NOT carry: a rebuild's re-train re-numbers the
    // cid space, so an old list id would mask an arbitrary new list —
    // and the split's masked rows are absent from a rebuild input read
    // through [[liveVectors]] (the documented rebuild input; a raw
    // read of `<root>/vectors` would double-count every split's rows),
    // so there is nothing left to mask.
    tombstoneFrame(assigned.sparkSession, root).map(idTombstones)
      .filter(!_.isEmpty).foreach(_.write
        .mode("overwrite").partitionBy("delete_shard")
        .parquet(s"$stageRoot/tombstones"))
    swap.commit()
  }

  private def writeVectorShard(assigned: DataFrame, root: String,
      shardId: String): Unit =
    assigned.withColumn("ingest_shard", lit(shardId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("centroid_id", "ingest_shard")
      .parquet(s"$root/vectors")

  /** The frozen centroids an appendable index was built with. Heals a
    * crashed rebuild swap first (and settles a [[splitList]] centroid
    * swap — see [[centroidSwap]]), so every read path (and
    * [[appendVectors]], which must assign with these exact centroids)
    * sees a consistent generation. */
  def readModel(spark: org.apache.spark.sql.SparkSession,
      root: String): Model = {
    DirSwap(spark, root).heal()
    centroidSwap(spark, root).settle()
    Model(spark.read.parquet(s"$root/centroids")
      .orderBy(col("cid")).collect()
      .map(_.getSeq[Double](1).toArray))
  }

  /** The centroid-file swap of [[splitList]] — the list-scoped sibling
    * of the root swap. The split cannot afford the rebuild's whole-root
    * staging (it must not rewrite the untouched 99% of a 100 TB index to
    * split one list), so only the tiny centroids file swaps, staged in
    * `centroids__split` and retired to `centroids__retired`. The read
    * path [[DirSwap.settle]]s it: a crash between the split's retire
    * and promote leaves no live file and a complete stage (`_SUCCESS`;
    * the split's vector copies were written before it — ordering
    * contract in [[splitList]]), which moves in. Any other state is
    * only healed: a stage beside a live file is left to the single
    * writer, whose next `mode=overwrite` stage write replaces it. */
  private def centroidSwap(spark: org.apache.spark.sql.SparkSession,
      root: String): DirSwap =
    DirSwap(spark, s"$root/centroids", "__split", "__retired")

  /** Ingest a new embedding shard: assign against the PERSISTED centroids
    * (one map-only pass over the shard — the existing index is not read at
    * all) and append under the shard's own partition leaves.
    *
    * A tombstoned id ([[deleteVectors]]) cannot be re-ingested before
    * [[compactVectors]] clears its tombstone: the search-time mask is
    * keyed on id alone, so a re-appended replacement would be silently
    * invisible to every [[searchBatchAppendable]] until compaction —
    * live data missing from results with no error anywhere. This guard
    * turns that silent loss into a loud one: when tombstones exist, the
    * incoming shard is semi-joined (broadcast, tombstone-sized side)
    * against them and a clash refuses the append with the fix named.
    * Zero cost on the common no-tombstones path. */
  def appendVectors(spark: org.apache.spark.sql.SparkSession, root: String,
      emb: DataFrame, idCol: String, vecCol: String,
      shardId: String): Unit = {
    val model = readModel(spark, root)
    tombstoneFrame(spark, root).map(idTombstones).foreach { t =>
      val clash = emb.join(broadcast(t.select(col("tomb_id"))),
        emb(idCol) === col("tomb_id"), "left_semi")
      require(clash.isEmpty,
        s"appendVectors($shardId): incoming ids are tombstoned in " +
        s"$root/tombstones — a re-appended id would stay masked by its " +
        "stale tombstone until compaction (invisible to every search). " +
        "Run compactVectors first, then replay this append.")
    }
    writeVectorShard(assign(emb, vecCol, model), root, shardId)
  }

  /** Tombstone a set of vector ids in an appendable index — the DELETE
    * leg of the index lifecycle (GDPR erasure, recalled documents,
    * re-embedded replacements). Nothing in the (large) vectors tree is
    * touched: the ids land as a narrow tombstone shard under
    * `tombstones/delete_shard=<shardId>/`, the same idempotent
    * dynamic-partition append contract as [[appendVectors]] — a replayed
    * delete overwrites its own shard and converges. Search masks
    * tombstoned ids at read time; [[compactVectors]] applies them
    * physically and clears them. The tombstone set is expected to stay
    * small relative to the index between compactions (it rides a
    * broadcast into the search anti-join — same bounded-side contract as
    * the probe frame); compact when it grows. Because the mask is keyed
    * on id alone, a deleted id cannot be re-ingested until compaction
    * clears its tombstone — [[appendVectors]] asserts this rather than
    * letting the replacement vanish silently behind the stale mask. */
  def deleteVectors(spark: org.apache.spark.sql.SparkSession, root: String,
      ids: DataFrame, idCol: String, shardId: String): Unit = {
    readModel(spark, root) // heal a crashed rebuild swap before writing
    ids.select(col(idCol).as("tomb_id")).distinct()
      // tomb_cid is the LIST-tombstone leg ([[splitList]] retiring a
      // whole centroid list); id-tombstones carry it null so every
      // shard shares one schema and the merged read needs no inference
      .withColumn("tomb_cid", lit(null).cast("int"))
      .withColumn("delete_shard", lit(shardId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("delete_shard")
      .parquet(s"$root/tombstones")
  }

  /** The live tombstone frame, if any deletes have been issued. A delete
    * batch that matched zero ids leaves a dir with only _SUCCESS (the
    * dynamic overwrite writes no partition leaves), and reading THAT
    * would fail schema inference and brick every search — so existence
    * means actual `delete_shard=` leaves, not just the directory. */
  private def tombstoneFrame(spark: org.apache.spark.sql.SparkSession,
      root: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(
        _.getPath.getName.startsWith("delete_shard="))) {
      // mergeSchema: shards written before the tomb_cid column existed
      // (id-only deletes) coexist with [[splitList]]'s list tombstones;
      // an index that has never seen either schema leg still gets both
      // columns normalized in
      val raw = spark.read.option("mergeSchema", "true").parquet(p.toString)
      val withCid =
        if (raw.columns.contains("tomb_cid")) raw
        else raw.withColumn("tomb_cid", lit(null).cast("int"))
      Some(withCid)
    } else None
  }

  /** The cids of whole lists retired by [[splitList]] — bounded by the
    * number of splits since the last rebuild (driver-sized by the same
    * contract as the centroid array itself), so they prune as LITERALS
    * at the scan: a retired list's directory is never opened. */
  private def retiredLists(tombs: Option[DataFrame]): Array[Int] =
    tombs.map(_.filter(col("tomb_cid").isNotNull)
      .select(col("tomb_cid")).distinct().collect()
      .map(_.getInt(0)).sorted).getOrElse(Array.empty)

  /** Id-tombstone rows only (null tomb_cid) — the per-id delete leg the
    * search mask anti-joins and [[appendVectors]] clash-guards on. */
  private def idTombstones(tombs: DataFrame): DataFrame =
    tombs.filter(col("tomb_id").isNotNull)

  /** The index's LIVE vectors, read through the full tombstone mask —
    * THE documented input for a rebuild
    * ([[writeIndexAppendable]] over a re-train): [[splitList]]-retired
    * lists are pruned as literal PartitionFilters (their directories
    * never open) and id-tombstoned rows are anti-joined out, exactly
    * the visibility [[searchBatchAppendable]] gives a query. Reading
    * `<root>/vectors` raw instead double-counts every split: the
    * retired list's rows AND their sub-list copies are both physically
    * present until [[compactVectors]], so a rebuild trained/loaded from
    * the raw tree would carry duplicate ids into the new generation
    * (the same vector returned twice by every search that probes its
    * list). Columns: the caller's original vector schema — the
    * assignment/bookkeeping columns (`centroid_id`, `ingest_shard`) are
    * dropped because a rebuild re-derives both. */
  def liveVectors(spark: org.apache.spark.sql.SparkSession,
      root: String, idCol: String): DataFrame = {
    readModel(spark, root) // heal a crashed swap before reading
    val vectors = spark.read.parquet(s"$root/vectors")
    val tombs = tombstoneFrame(spark, root)
    val retired = retiredLists(tombs)
    val pruned =
      if (retired.isEmpty) vectors
      else vectors.filter(!col("centroid_id").isin(retired.map(Int.box): _*))
    val masked = tombs.map(idTombstones).filter(!_.isEmpty) match {
      case Some(t) => pruned.join(broadcast(t.select(col("tomb_id"))),
        pruned(idCol) === col("tomb_id"), "left_anti")
      case None => pruned
    }
    masked.drop("centroid_id", "ingest_shard")
  }

  /** Apply accumulated tombstones physically and collapse the per-shard
    * partition dirs (the small-files problem — the same maintenance role
    * as [[graft.ops.IncrementalDedup.compactShards]]): rewrite the
    * vectors tree minus tombstoned ids into a single `shardId` ingest
    * shard, carry the centroids over unchanged, and commit through
    * [[DirSwap]] — the tombstone dir is simply not copied
    * into the new generation, so a crash at ANY point leaves either the
    * old generation (tombstones intact, still masked at read) or the new
    * one (deletes applied, tombstones gone); never a state where deleted
    * ids resurface. */
  def compactVectors(spark: org.apache.spark.sql.SparkSession, root: String,
      idCol: String, shardId: String = "compacted"): Unit = {
    val swap = DirSwap(spark, root)
    swap.recover()
    val vectors = spark.read.parquet(s"$root/vectors")
    val tombs = tombstoneFrame(spark, root)
    val retired = retiredLists(tombs)
    val unretired =
      if (retired.isEmpty) vectors
      else vectors.filter(
        !col("centroid_id").isin(retired.map(Int.box): _*))
    val live = tombs.map(idTombstones).filter(!_.isEmpty) match {
      case Some(t) => unretired.join(
        broadcast(t.select(col("tomb_id"))),
        unretired(idCol) === col("tomb_id"), "left_anti")
      case None => unretired
    }
    val stageRoot = swap.stage.toString
    // stage FIRST — the rewrite reads the live generation
    writeVectorShard(live.drop("ingest_shard"), stageRoot, shardId)
    val cents = spark.read.parquet(s"$root/centroids")
    cents.coalesce(1).write.mode("overwrite")
      .parquet(s"$stageRoot/centroids")
    swap.commit()
  }

  /** Index-health statistics over the appendable layout — the nprobe /
    * rebalance tuning readout. IVF recall and latency are both
    * functions of the LIST SIZE DISTRIBUTION: a hot list makes every
    * probe that touches it slow, empty lists waste nprobe budget, and a
    * growing imbalance factor (max/mean) is the signal to re-train with
    * more centroids ([[writeIndexAppendable]]'s rebuild contract) or
    * [[compactVectors]] when dead rows dominate. One row per centroid
    * id 0..nc-1 (EMPTY LISTS INCLUDED — they are the finding, not
    * noise): n_live (search-visible), n_dead (physically present but
    * tombstone-masked), n_shards (partition-dir fragmentation — the
    * compaction trigger).
    *
    * Cost: metadata-shaped — one scan of the narrow (id, centroid_id,
    * ingest_shard) columns with an nc-bounded aggregate; vectors never
    * deserialize (columnar projection drops the embedding column at the
    * reader). */
  def indexStats(spark: org.apache.spark.sql.SparkSession, root: String,
      idCol: String): DataFrame = {
    val model = readModel(spark, root) // heals a crashed swap first
    val vectors = spark.read.parquet(s"$root/vectors")
      .select(col(idCol), col("centroid_id"), col("ingest_shard"))
    val tombs = tombstoneFrame(spark, root)
    val retired = retiredLists(tombs)
    val flagged = tombs.map(idTombstones) match {
      // distinct BEFORE the left join: deleteVectors dedupes tomb_id only
      // within one call, so an id tombstoned by two delete shards (e.g.
      // overlapping GDPR batches) appears twice in the raw frame and a
      // non-distinct left join would double-count it into n_dead — the
      // silent-misreport mode this readout exists to catch. The search/
      // append paths are anti/semi joins (multiplicity-immune) and stay
      // un-distinct-ed. Rows of a [[splitList]]-retired list are dead
      // wholesale (physically present, scan-pruned from every search).
      case Some(t) => vectors.join(
        broadcast(t.select(col("tomb_id")).distinct()),
        vectors(idCol) === col("tomb_id"), "left")
        .withColumn("__dead", col("tomb_id").isNotNull ||
          (if (retired.isEmpty) lit(false)
           else col("centroid_id").isin(retired.map(Int.box): _*)))
      case None => vectors.withColumn("__dead",
        if (retired.isEmpty) lit(false)
        else col("centroid_id").isin(retired.map(Int.box): _*))
    }
    val counts = flagged.groupBy(col("centroid_id"))
      .agg(sum(when(!col("__dead"), 1L).otherwise(0L)).as("n_live"),
        sum(when(col("__dead"), 1L).otherwise(0L)).as("n_dead"),
        countDistinct(col("ingest_shard")).as("n_shards"))
    spark.range(model.nc).select(col("id").cast("int").as("centroid_id"))
      .join(counts, Seq("centroid_id"), "left")
      .select(col("centroid_id"),
        coalesce(col("n_live"), lit(0L)).as("n_live"),
        coalesce(col("n_dead"), lit(0L)).as("n_dead"),
        coalesce(col("n_shards"), lit(0L)).as("n_shards"))
  }

  /** Split a HOT list of an appendable index in place — the action arm
    * of the [[indexStats]] readout (a list whose n_live dominates makes
    * every probe that touches it scan-bound; the fix short of a full
    * re-train is to subdivide just that list). The list's live vectors
    * are re-clustered over `kSplit` sub-centroids trained PORTABLY
    * (deterministic — the replay contract below depends on it), the
    * sub-centroids are appended at fresh cids nc..nc+kSplit-1, the
    * vectors are re-written under their new lists as ingest shard
    * `shardId`, and the old list is retired WHOLESALE by a list
    * tombstone (tomb_cid) that every read path prunes as a literal
    * PartitionFilter — its directory is never opened again, and
    * [[compactVectors]] eventually drops the dead rows physically.
    * Cost is LIST-SIZED: the untouched rest of the index is neither
    * read nor written (a 100 TB index splits one hot list for the
    * price of that list), which is why this does NOT reuse the
    * rebuild's whole-root stage/retire/promote.
    *
    * The retired SLOT cannot leave the model (cids are positional in
    * the centroid array) and cannot keep its centroid (new appends
    * would keep routing there — into a scan-pruned list, i.e. silent
    * data loss). It is overwritten with an exact copy of the FIRST
    * sub-centroid: assignment ties break to the HIGHEST cid (the
    * [[NearestCentroidId]] contract), so the retired lower slot can
    * never win an assignment again. The trade: probe selection
    * (cid-ASC ties) can spend one of its nprobe slots on the retired
    * duplicate for queries in the split region — a metadata-only empty
    * read, but a probe slot the query doesn't get back. A split is a
    * stopgap between re-trains; the next rebuild re-densifies the slot
    * space.
    *
    * Write ordering and crash states (single writer, readers heal):
    * (1) vector copies land under the new cids — invisible to the old
    * model, which never probes cids ≥ nc; (2) the centroid swap stages
    * to `centroids__split` and commits ([[centroidSwap]]; readers
    * settle a crash inside the swap); (3) the list tombstone
    * arms the prune. A crash before (3) leaves a window where the new
    * model sees the old list unpruned next to the copies — a query
    * probing both the retired slot and a sub-list can see a vector id
    * TWICE (same vector, same score) until the tombstone lands; the
    * replay below closes it. This is the same documented
    * at-least-once window class as [[appendVectors]]' torn shard.
    * Replaying a crashed split with the SAME shardId converges: the
    * tombstone (written last) short-circuits a completed split; an
    * incomplete one re-derives identical sub-centroids from the
    * unchanged live list (portable trainer), re-writes the copies
    * idempotently (dynamic overwrite of its own shard), and detects an
    * already-swapped centroid file by value (the model tail equals the
    * recomputed sub-centroids and the split slot equals the first one)
    * rather than extending twice. Returns the post-split model. */
  def splitList(spark: org.apache.spark.sql.SparkSession, root: String,
      listId: Int, kSplit: Int, idCol: String, vecCol: String,
      shardId: String, iters: Int = 5): Model = {
    require(kSplit >= 2, "a split needs at least 2 sub-lists")
    val model = readModel(spark, root)
    require(listId >= 0 && listId < model.nc,
      s"listId $listId out of range 0..${model.nc - 1}")
    val tombs = tombstoneFrame(spark, root)
    if (retiredLists(tombs).contains(listId))
      return model // replay of a COMPLETED split — the tombstone is last
    val listRows = spark.read.parquet(s"$root/vectors")
      .filter(col("centroid_id") === listId)
    val idType = listRows.schema(idCol).dataType
    val liveRows = (tombs.map(idTombstones).filter(!_.isEmpty) match {
      case Some(t) => listRows.join(broadcast(t.select(col("tomb_id"))),
        listRows(idCol) === col("tomb_id"), "left_anti")
      case None => listRows
    }).drop("centroid_id", "ingest_shard").persist()
    try {
      val n = liveRows.count()
      require(n >= kSplit,
        s"list $listId has $n live vectors — cannot split into $kSplit")
      val subs = trainPortable(liveRows, idCol, vecCol, kSplit, iters)
      val alreadySwapped = model.nc > kSplit &&
        model.centroids.takeRight(kSplit).zip(subs.centroids)
          .forall { case (a, b) => a.sameElements(b) } &&
        model.centroids(listId).sameElements(subs.centroids(0))
      val baseCid = if (alreadySwapped) model.nc - kSplit else model.nc
      val newModel =
        if (alreadySwapped) model
        else Model(model.centroids.updated(listId, subs.centroids(0)) ++
          subs.centroids)
      // (1) copies: assign against the FULL post-split model (true IVF
      // semantics — a boundary vector may be nearer a neighboring
      // list's centroid than any sub-centroid, and belongs there).
      // Retired slots (this one and any prior split's) tie-lose to
      // their higher duplicates, so no copy can land in a pruned list.
      writeVectorShard(assign(liveRows, vecCol, newModel), root, shardId)
      // (2) centroid swap, staged then promoted
      if (!alreadySwapped) {
        val rows = newModel.centroids.zipWithIndex.map { case (c, i) =>
          org.apache.spark.sql.Row(i, c.toSeq)
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cid",
            org.apache.spark.sql.types.IntegerType, false),
          org.apache.spark.sql.types.StructField("centroid",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, false), false)))
        val swap = centroidSwap(spark, root)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite")
          .parquet(swap.stage.toString)
        swap.commit()
      }
      // (3) the list tombstone arms the prune — written LAST so every
      // earlier crash state still reads consistently under whichever
      // model generation is live
      import scala.jdk.CollectionConverters._
      // tomb_id carries the INDEX's id type: a list tombstone's null
      // must merge-read against id-delete shards written with the real
      // id column, whatever type the caller keys vectors on
      val tombSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tomb_id", idType, true),
        org.apache.spark.sql.types.StructField("tomb_cid",
          org.apache.spark.sql.types.IntegerType, true),
        org.apache.spark.sql.types.StructField("delete_shard",
          org.apache.spark.sql.types.StringType, false)))
      spark.createDataFrame(
          Seq(org.apache.spark.sql.Row(null, Int.box(listId),
            s"split_$shardId")).asJava, tombSchema)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("delete_shard")
        .parquet(s"$root/tombstones")
      newModel
    } finally liveRows.unpersist()
  }

  /** Batched ANN over the appendable index ([[writeIndexAppendable]] +
    * [[appendVectors]] output): probe semantics identical to
    * [[searchBatch]] (pinned by spec/oracle), prune lands as
    * PartitionFilters on the leading centroid_id directory level.
    * Tombstoned ids ([[deleteVectors]]) are masked via a broadcast
    * anti-join that the centroid prune pushes straight through.
    *
    * `excludeShards` drops whole ingest shards at scan time (a
    * partition filter on the trailing ingest_shard directory level —
    * excluded leaves are never read). Use it to hide an IN-FLIGHT
    * shard: a writer crash mid-[[appendVectors]] can leave a torn
    * shard (some centroid leaves written, some not) visible until the
    * write replays, and a reader that must not observe that window
    * excludes the shard id being ingested (see
    * [[graft.streaming.EventStreams.ivfAppendSink]]). */
  def searchBatchAppendable(spark: org.apache.spark.sql.SparkSession,
      root: String, queries: DataFrame, idCol: String, vecCol: String,
      qidCol: String, k: Int, nprobe: Int = 4,
      excludeShards: Seq[String] = Nil): DataFrame = {
    // readModel FIRST: it heals a crashed rebuild swap, and the vectors
    // scan below must resolve against the healed root
    val model = readModel(spark, root)
    val raw = spark.read.parquet(s"$root/vectors")
    val idx =
      if (excludeShards.isEmpty) raw
      else raw.filter(!col("ingest_shard").isin(excludeShards: _*))
    val tombs = tombstoneFrame(spark, root)
    // retired lists ([[splitList]]) prune as literal PartitionFilters —
    // the old list's directories are never opened, same metadata-only
    // skip as the probe prune itself
    val retired = retiredLists(tombs)
    val live =
      if (retired.isEmpty) idx
      else idx.filter(!col("centroid_id").isin(retired.map(Int.box): _*))
    val masked = tombs.map(idTombstones).filter(!_.isEmpty) match {
      case Some(t) => live.join(broadcast(t.select(col("tomb_id"))),
        live(idCol) === col("tomb_id"), "left_anti")
      case None => live
    }
    searchBatchPruned(spark, masked, queries,
      idCol, vecCol, qidCol, model, k, nprobe)
  }

  /** Batched ANN over the partitioned-directory index
    * ([[writeIndexPartitioned]] output): identical probe semantics, with
    * the prune landing as PartitionFilters (directory skipping) instead
    * of bucket selection — the layout whose exact re-rank parallelizes
    * across the cluster (see the layout trade-off on
    * [[writeIndexPartitioned]]). */
  def searchBatchPartitioned(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, idCol: String, vecCol: String,
      qidCol: String, model: Model, k: Int, nprobe: Int = 4): DataFrame =
    searchBatchPruned(spark, spark.read.parquet(indexPath), queries, idCol,
      vecCol, qidCol, model, k, nprobe)

  /** Shared pruned-batch body for the persisted-index layouts.
    * Materializes the probe frame ONCE on the driver (small by the same
    * contract that lets the join broadcast it): the collected rows give
    * (a) the literal prune ids the scan needs at planning time (bucket
    * selection or partition-directory skipping, depending on the index
    * layout behind `index`) and (b) a local relation for the join side —
    * so the prune set and the join keys come from the SAME evaluation,
    * and the nc-literal centroid expression is analyzed/codegen'd once
    * per batch, not twice (re-running it per leg measurably dominated
    * the bucketed path's win on a 500k-vector smoke). */
  private def searchBatchPruned(spark: org.apache.spark.sql.SparkSession,
      index: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      qidCol: String, model: Model, k: Int, nprobe: Int): DataFrame = {
    val probed = probeFrame(queries, qidCol, model, nprobe)
    val probeRows = probed.collect()
    val q = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probed.schema)
    val probedIds = probeRows.map(_.getAs[Int]("centroid_id")).distinct.sorted
    val pruned = index
      .filter(col("centroid_id").isin(probedIds.map(Int.box): _*))
    val scored = pruned.join(broadcast(q), Seq("centroid_id"))
      .withColumn("cosine_sim",
        round(Similarity.cosine(col(vecCol), col("qvec")), 6))
      .select(col(qidCol), col(idCol), col("cosine_sim"))
    Similarity.topKPerQuery(scored, qidCol, idCol, k, queries)
  }
}
