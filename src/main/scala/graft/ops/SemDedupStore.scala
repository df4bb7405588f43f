package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted, shard-incremental SemDeDup — [[Dedup.semanticDedup]]'s
  * cluster-scoped near-duplicate semantics composed with the
  * [[IncrementalDedup]] store pattern: centroids are trained once and
  * FROZEN in the store, each arriving corpus shard is assigned, compared
  * against prior state cluster-by-cluster, and appended — without ever
  * re-reading prior shards' vectors outside the touched clusters, and
  * without recomputing earlier shard-internal comparisons.
  *
  * Equivalence contract (the x49 discipline, restated for SemDeDup):
  * with frozen centroids the assignment of a vector never changes, so
  * the above-threshold pair set of the UNION decomposes disjointly into
  * per-shard internal pairs plus cross-shard pairs — each computed
  * exactly once, at the shard's ingest. The batch keep-the-outlier flags
  * are per-pair ORs (`is_dup` = appears in any pair; `removed` = is the
  * designated loser of any pair), i.e. MONOTONE under pair union, so an
  * append-only per-shard flag-delta log folds with `max()` into exactly
  * the batch answer. A cross pair CAN retract a previously-kept vector
  * (the old member is the pair's loser when it sits closer to its
  * centroid) — that retraction is just another delta row in the NEW
  * shard's partition; prior partitions are never rewritten. The x157
  * oracle replays the full batch formulation over the union and pins
  * `currentState` value-for-value against it.
  *
  * Store layout under `root/` (all parquet):
  *  - `centroids/` (cid, cv) — written once at build, read per ingest.
  *  - `meta/` — threshold; ingests refuse a mismatched re-open.
  *  - `assign/ingest_shard=<id>/` (id, cluster_id, centroid_sim, v) —
  *    one partition per shard, dynamic-overwrite idempotent (a crashed
  *    ingest is retried with the same shard id and replaces only its
  *    own files), rows sorted by cluster_id so parquet row-group stats
  *    prune cluster-restricted probes.
  *  - `flags/ingest_shard=<id>/` (id, dup, removed) — the append-only
  *    delta log; current flags = groupBy(id).max, the monotone fold.
  *
  * Scale shape: ingest cost is |shard| assignment (map-only or
  *  broadcast-join by centroid count, see [[Dedup.assignToCentroids]])
  * plus the per-cluster cross of new×prior vectors restricted to the
  * clusters the shard actually touches (a driver-small `isin` over at
  * most nc ids — the [[IVF.Model]] contract — plus row-group pruning
  * from the sorted layout). Nothing rescans prior shards' untouched
  * clusters, and prior-vs-prior pairs are never recomputed. The giant-
  * cluster hazard is the same as batch SemDeDup's and gets the same
  * loud guard: `maxClusterSize` (> 0 to enable) refuses when any
  * touched cluster's UNION size exceeds the cap, naming the re-train
  * mitigation. Ids must be globally unique across shards (the same
  * caller contract as [[IncrementalDedup]]).
  */
object SemDedupStore {

  private def centroidsPath(root: String) = s"$root/centroids"
  private def metaPath(root: String) = s"$root/meta"
  private def assignPath(root: String) = s"$root/assign"
  private def flagsPath(root: String) = s"$root/flags"

  // explicit read schemas: a store whose only shard is being re-ingested
  // (or an empty-corpus build) has partition dirs with no data files,
  // where schema inference would fail — the IncrementalDedup convention
  private val assignSchema = StructType(Seq(
    StructField("id", LongType), StructField("cluster_id", LongType),
    StructField("centroid_sim", DoubleType),
    StructField("v", ArrayType(DoubleType)),
    StructField("ingest_shard", StringType)))
  private val flagsSchema = StructType(Seq(
    StructField("id", LongType), StructField("dup", BooleanType),
    StructField("removed", BooleanType),
    StructField("ingest_shard", StringType)))

  /** Create the store: persist centroids + threshold, then ingest the
    * initial corpus shard. Returns [[currentState]]. */
  def buildStore(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      threshold: Double, root: String, shardId: String,
      maxClusterSize: Long = 0L): DataFrame = {
    val spark = emb.sparkSession
    val cents = Dedup.collectCentroids(centroids, cidCol, cvecCol)
    centroids.select(col(cidCol).cast("long").as("cid"),
        col(cvecCol).cast("array<double>").as("cv"))
      .coalesce(1).write.mode("overwrite").parquet(centroidsPath(root))
    ShardStore.remember(spark, "semdedup.cents", centroidsPath(root), cents)
    ShardStore.writeMeta(spark, "semdedup.meta", metaPath(root), threshold)(
      lit(threshold).as("threshold"))
    ingest(spark, root, emb, idCol, vecCol, shardId, cents, threshold,
      maxClusterSize)
  }

  /** The threshold this store was built with (memoized per root until
    * `meta/` is rewritten — [[ShardStore.cached]]). */
  def readMeta(spark: SparkSession, root: String): Double =
    ShardStore.readMeta(spark, "semdedup.meta", metaPath(root))(
      _.getAs[Double]("threshold"))

  /** Ingest one corpus shard against the persisted state. Idempotent
    * per `shardId` (dynamic partition overwrite). Returns
    * [[currentState]] AFTER the ingest. Centroids are FROZEN by the
    * store contract, so the collected array memoizes per root alongside
    * the threshold ([[ShardStore.cached]]) — re-reading + re-collecting
    * them was two pure-overhead Spark executions per micro-batch in
    * [[graft.streaming.EventStreams.semDedupSink]]. */
  def addShard(spark: SparkSession, root: String, shard: DataFrame,
      idCol: String, vecCol: String, shardId: String,
      maxClusterSize: Long = 0L): DataFrame = {
    val threshold = readMeta(spark, root)
    val cents = ShardStore.cached(spark, "semdedup.cents",
        centroidsPath(root)) {
      Dedup.collectCentroids(
        spark.read.parquet(centroidsPath(root)), "cid", "cv")
    }
    ingest(spark, root, shard, idCol, vecCol, shardId, cents, threshold,
      maxClusterSize)
  }

  private def ingest(spark: SparkSession, root: String, shard: DataFrame,
      idCol: String, vecCol: String, shardId: String,
      cents: Array[(Long, Array[Double])], threshold: Double,
      maxClusterSize: Long): DataFrame = {
    // multi-consumer persist (probe legs + guard + partition write) —
    // the semanticDedup assignment convention
    val assigned = Dedup.assignToCentroids(shard, idCol, vecCol, cents)
      .select(col(idCol).cast("long").as("id"), col("cluster_id"),
        col("centroid_sim"), col(vecCol).cast("array<double>").as("v"))
      .persist()
    // clusters this shard touches: bounded by centroid count, which is
    // driver-small by the same contract that collected `cents`
    val touched = assigned.select(col("cluster_id")).distinct()
      .collect().map(_.getLong(0))
    val prior = readAssign(spark, root, excludeShard = Some(shardId))
      .filter(col("cluster_id").isin(touched.map(Long.box): _*))
      .persist()
    if (maxClusterSize > 0) {
      // one aggregate over narrow (cluster_id) rows of the touched union
      assigned.select(col("cluster_id"))
        .unionByName(prior.select(col("cluster_id")))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc).limit(1).collect().headOption
        .foreach { top =>
          if (top.getLong(1) > maxClusterSize) {
            assigned.unpersist(); prior.unpersist()
            throw new IllegalArgumentException(
              s"requirement failed: SemDedupStore: cluster ${top.getLong(0)} " +
              s"would hold ${top.getLong(1)} vectors " +
              s"(maxClusterSize=$maxClusterSize); the within-cluster compare " +
              "is quadratic in cluster size — re-train with more centroids " +
              "or shard the hot cluster upstream before ingesting")
          }
        }
    }
    def leg(df: DataFrame, tag: String): DataFrame =
      df.select(col("id").as(s"id_$tag"), col("cluster_id"),
        col("v").as(s"__v$tag"), col("centroid_sim").as(s"__c$tag"))
    // internal pairs (id_a < id_b inside the shard) + cross pairs vs
    // prior state — each unordered pair of the union appears exactly once
    val internal = leg(assigned, "a").join(leg(assigned, "b"), Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
    val cross = leg(assigned, "a").join(leg(prior, "b"), Seq("cluster_id"))
    val pairs = internal.unionByName(cross)
      .withColumn("__ps", round(Similarity.cosine(col("__va"), col("__vb")), 6))
      .filter(col("__ps") >= threshold)
    // keep-the-outlier loser + monotone flag deltas, compacted per id
    val loser = when(col("__ca") > col("__cb"), col("id_a"))
      .when(col("__cb") > col("__ca"), col("id_b"))
      .otherwise(greatest(col("id_a"), col("id_b")))
    val deltas = pairs.withColumn("__loser", loser)
      .select(explode(array(
        struct(col("id_a").as("id"), (col("__loser") === col("id_a")).as("removed")),
        struct(col("id_b").as("id"), (col("__loser") === col("id_b")).as("removed"))))
        .as("f"))
      .select(col("f.id").as("id"), lit(true).as("dup"), col("f.removed"))
      .groupBy(col("id")).agg(max(col("dup")).as("dup"),
        max(col("removed")).as("removed"))
    ShardStore.write(assigned.sortWithinPartitions(col("cluster_id")),
      assignPath(root), shardId)
    ShardStore.write(deltas, flagsPath(root), shardId)
    assigned.unpersist(); prior.unpersist()
    currentState(spark, root)
  }

  /** Read a shard-partitioned store table, or an EMPTY frame when the
    * path has no `ingest_shard=` partition dirs yet.
    *
    * The no-partition-dirs case MUST short-circuit and must not fall
    * through to `spark.read.parquet`: an empty-but-existing dir (what a
    * zero-row partitioned write leaves behind — the cold-start build)
    * would resolve with an EMPTY partition schema, and if that relation
    * is persisted, the SAME ingest's later write triggers the cache
    * manager's recache-by-path, whose file-index refresh picks up the
    * freshly written `ingest_shard=` files under a reader built for
    * zero partition columns — `ParquetFileFormat`'s partitionValues
    * assert kills the job (measured live in r12 on the cold-start
    * streamed ingest; the mechanism needs persist + an overlapping
    * write, which is exactly ingest's shape). */
  private def readShardTable(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    if (ShardStore.shards(spark, path).nonEmpty)
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
  }

  private def readAssign(spark: SparkSession, root: String,
      excludeShard: Option[String]): DataFrame = {
    val base = readShardTable(spark, assignPath(root), assignSchema)
    excludeShard.fold(base)(s => base.filter(col("ingest_shard") =!= lit(s)))
  }

  /** One row per ingested vector — (id, cluster_id, centroid_sim,
    * is_dup, kept), value-identical to running [[Dedup.semanticDedup]]
    * over the union of every ingested shard with the store's centroids
    * and threshold (minus the vector column). */
  def currentState(spark: SparkSession, root: String): DataFrame = {
    val flags = readShardTable(spark, flagsPath(root), flagsSchema)
        .groupBy(col("id"))
        .agg(max(col("dup")).as("__dup"), max(col("removed")).as("__rem"))
    readAssign(spark, root, excludeShard = None)
      .select(col("id"), col("cluster_id"), col("centroid_sim"))
      .join(flags, Seq("id"), "left")
      .select(col("id"), col("cluster_id"), col("centroid_sim"),
        coalesce(col("__dup"), lit(false)).as("is_dup"),
        (coalesce(col("__rem"), lit(false)) === false).as("kept"))
  }

  /** Consolidate accumulated per-shard partitions of `assign/` and
    * `flags/` — a year of daily shards is 365 partition dirs per table
    * whose listing and footer reads tax every ingest's prior-state scan.
    * SIZE-TIERED (`tierMaxBytes`; the default ∞ compacts everything):
    * only shards at or under the tier merge, so the accumulated base is
    * never rewritten just to absorb the small-shard tail. Crash protocol
    * and tier naming: [[ShardStore]].
    *
    * Per-table consolidation rules, chosen by each table's algebra:
    *  - `assign/` rows are unique per id (global-id caller contract), so
    *    consolidation dedups on id — NOT duplicate-tolerant reads:
    *    [[currentState]] would emit one row per copy — and re-sorts by
    *    cluster_id to keep the row-group pruning the ingest layout
    *    promises.
    *  - `flags/` is a monotone delta log folded by groupBy(id).max, so
    *    consolidation PRE-FOLDS its sources to one row per touched id;
    *    associativity keeps the outer fold exact with later deltas.
    *
    * Compaction ends the absorbed shards' replay window (their rows no
    * longer live under the per-shard partitions a replay's dynamic
    * overwrite targets, and the in-flight exclusion prunes by partition
    * name) — only compact shards whose ingest has COMPLETED, and for
    * [[graft.streaming.EventStreams.semDedupSink]] only while the query
    * is stopped with its checkpoint committed. Returns
    * ((assign before, after), (flags before, after)). */
  def compactShards(spark: SparkSession, root: String,
      tierMaxBytes: Long = Long.MaxValue): ((Int, Int), (Int, Int)) = {
    def compactOne(path: String, schema: StructType,
        consolidate: DataFrame => DataFrame): (Int, Int) =
      ShardStore.compact(spark, tierMaxBytes,
        ShardStore.Table(path, schema, consolidate))
    (compactOne(assignPath(root), assignSchema,
        _.dropDuplicates("id").sortWithinPartitions(col("cluster_id"))),
      compactOne(flagsPath(root), flagsSchema,
        _.groupBy(col("id")).agg(max(col("dup")).as("dup"),
          max(col("removed")).as("removed"))))
  }
}
