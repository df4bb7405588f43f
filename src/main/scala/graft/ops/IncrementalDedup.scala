package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-duplicate dedup against a PERSISTED MinHash index — the
  * operation a production 100 TB corpus pipeline actually runs: shards
  * arrive continuously and each must be deduped against everything already
  * ingested WITHOUT re-reading (or re-hashing) the accumulated corpus text.
  * Extension surface (SURVEY.md §7 "north star"); the batch building
  * blocks are [[Dedup]]'s.
  *
  * Index layout under one root path:
  *   - `buckets/`  — (id, band, bucket) LSH band buckets for EVERY ingested
  *     doc, partitioned by `ingest_shard`. The probe side: a new shard's
  *     buckets equi-join here to find cross-shard candidates. Narrow rows
  *     (~20 B/doc/band) — the whole point is that shard ingest scans THIS,
  *     never the corpus text (at 10^10 docs x 8 bands this is ~2 TB where
  *     the text is 100 TB).
  *   - `shingles/` — (id, sh: array<long>) RAW shingle hashes per doc
  *     (set-dedup deferred to verify time, see [[shingleSets]]),
  *     partitioned by `ingest_shard`. The verify side: exact Jaccard for
  *     candidate pairs reads ONLY rows semi-join-pruned to candidate ids.
  *   - `labels/`   — (id, cluster_id) APPEND-ONLY DELTA LOG, partitioned
  *     by `ingest_shard` like the other two tables. Each shard appends
  *     ONLY the rows whose cluster assignment it changed (plus rows for
  *     its own new duplicates) — never a rewrite. This is sound because
  *     dedup clusters only ever MERGE (a verified pair can connect two
  *     components, never split one) and [[Dedup.resolveClusters]] roots
  *     every component at its MIN member id, so a doc's successive labels
  *     are non-increasing and its CURRENT label is simply
  *     `min(cluster_id)` over all of its rows ([[currentLabels]]).
  *     Superseded rows are still true "same-component" facts (membership
  *     is monotone), so readers never need generation numbers or
  *     last-writer-wins — the log is a set of valid connectivity edges.
  *   - `meta/`     — one row pinning (shingle_w, k, bands, threshold,
  *     max_bucket): probes MUST hash exactly like the build did, so
  *     [[addShard]] reads its parameters from the index instead of trusting
  *     the caller to repeat them.
  *
  * Why the index keeps ALL docs (not just survivors): a new doc similar
  * only to an already-DROPPED doc must still land in the dropped doc's
  * cluster (transitively reaching the survivor) — exactly the case where a
  * survivors-only index silently diverges from full-corpus dedup. With the
  * full index, [[addShard]]'s pair set (cross-probe ∪ shard-internal) plus
  * the persisted label edges reconstructs the union's connectivity, so
  * batch-by-batch ingest state ≡ one full-union dedup (pinned by spec;
  * requires globally unique ids across shards and union band buckets under
  * `maxBucket`, since the hot-bucket star-link cap sees per-batch buckets).
  *
  * Idempotency / crash safety: ALL THREE tables append via DYNAMIC
  * partition overwrite on `ingest_shard` — re-running a failed shard
  * replaces exactly its own partitions, and [[addShard]] excludes the
  * in-flight shard id from every read (buckets probe, shingle verify,
  * label probe), so a half-written previous attempt is invisible and the
  * replay recomputes an identical delta from identical pre-shard state.
  *
  * SCALE CONTRACT (the load-bearing design rule): per-shard ingest cost
  * is bounded by shard size + touched-component size, NOT by the
  * accumulated duplicate population. The label store is only ever (a)
  * SCANNED narrowly under broadcast semi-joins — two passes per shard,
  * pruned to rows adjacent to the shard's verified pairs — and (b)
  * APPENDED with the changed rows. It is never shuffled and never
  * rewritten. The closure argument for why two scans suffice lives on
  * [[addShard]].
  *
  * APPEND-ONLY CAVEAT (inherent to incremental publishing): a later shard
  * can MERGE two existing clusters (a bridge doc similar to both). The
  * index labels update — future probes see the merged cluster — but
  * survivors already published from earlier shards are not retracted by
  * the merge itself. Full-union equality of the INDEX STATE still holds;
  * the per-shard published reports are each correct as of their ingest
  * time, and [[republishDelta]] emits the (id, old_cluster, new_cluster)
  * retraction feed that reconciles downstream consumers after merges.
  *
  * Single writer ([[ShardStore]]'s contract): serialize ingests and
  * [[compactShards]] upstream (the streaming sink's micro-batch loop
  * does this naturally).
  */
object IncrementalDedup {

  /** Index-build parameters, persisted in `meta/` and read back by probes. */
  final case class Params(shingleW: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 256)

  private def bucketsPath(root: String) = s"$root/buckets"
  private def shinglesPath(root: String) = s"$root/shingles"
  private def labelsPath(root: String) = s"$root/labels"
  private def metaPath(root: String) = s"$root/meta"

  import org.apache.spark.sql.types._
  // explicit read schemas: an index built from an EMPTY corpus (the valid
  // starting state for streaming ingestion) has partition dirs with no data
  // files, where schema inference would fail
  private val bucketsSchema = StructType(Seq(
    StructField("id", LongType), StructField("band", IntegerType),
    StructField("bucket", LongType), StructField("ingest_shard", StringType)))
  private val shinglesSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("sh", ArrayType(LongType)),
    StructField("ingest_shard", StringType)))
  private val labelsSchema = StructType(Seq(
    StructField("id", LongType), StructField("cluster_id", LongType),
    StructField("ingest_shard", StringType)))

  /** (id, sh) RAW shingle-hash arrays (one per token window, duplicates
    * kept; zero-token docs carry an empty array and are excluded from
    * index state at the write/bucket stages). Dedup to a SET happens only
    * at verify time on candidate-pruned rows ([[distinctSh]]):
    * `array_distinct` is an interpreted per-row loop, so paying it
    * corpus-wide at index build measured ~2x slower than this raw write,
    * while candidates are orders of magnitude fewer than docs. MinHash
    * over the raw multiset equals MinHash over the set (min is
    * multiplicity-blind), so band buckets are unaffected. */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.ShingleFunctions
          .shingle_hashes(TextAnalysis.tokens(col(textCol)), w).as("sh"))

  /** Candidate-pruned shingle SETS for the exact-Jaccard verify. */
  private def distinctSh(sh: DataFrame, candIds: DataFrame): DataFrame =
    sh.join(candIds, Seq("id"), "left_semi")
      .select(col("id"), array_distinct(col("sh")).as("sh"))

  /** (id, band, bucket) from a shingle-set frame. MinHash over the DISTINCT
    * set equals MinHash over the raw multiset (min is multiplicity-blind),
    * so signatures here are bit-identical to [[Dedup.minhashSignatures]]
    * while reusing the already-computed shingle sets — one tokenize+hash
    * pass feeds both index tables. */
  private def bandBuckets(sh: DataFrame, p: Params): DataFrame =
    sh.select(col("id"),
        graft.functions.MinHashFunctions.minhash_sigs(col("sh"), p.k).as("sig"))
      // the intermediate select matters: Spark's cost-aware CollapseProject
      // keeps `sig` an attribute here, so the banding lambda reads the
      // materialized signature instead of re-computing it per band (the
      // trap documented on Dedup.minhashSignature — inlining it measured
      // 29s vs 3s at 205k docs). No Filter node anywhere: a filter's
      // predicate gets PUSHED below the projects with the whole
      // minhash-over-shingles chain inlined, costing one extra full
      // evaluation per row. Sig-less (zero-shingle) docs carry a NULL sig,
      // the when() maps them to a NULL band array, and explode drops them —
      // same exclusion, zero extra passes.
      .select(col("id"),
        explode(when(col("sig").isNotNull,
          Dedup.lshBandHashes(col("sig"), p.k, p.bands))).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))

  private def writeMeta(spark: SparkSession, root: String, p: Params): Unit =
    ShardStore.writeMeta(spark, "incdedup", metaPath(root), p)(
      lit(p.shingleW).as("shingle_w"), lit(p.k).as("k"),
      lit(p.bands).as("bands"), lit(p.threshold).as("threshold"),
      lit(p.maxBucket).as("max_bucket"))

  /** The parameters this index was built with (probes must match them;
    * memoized per root until `meta/` is rewritten —
    * [[ShardStore.cached]]). */
  def readMeta(spark: SparkSession, root: String): Params =
    ShardStore.readMeta(spark, "incdedup", metaPath(root)) { r =>
      Params(r.getAs[Int]("shingle_w"), r.getAs[Int]("k"),
        r.getAs[Int]("bands"), r.getAs[Double]("threshold"),
        r.getAs[Int]("max_bucket"))
    }

  /** Data files sitting DIRECTLY under labels/ (no ingest_shard= dirs)
    * mean the index predates the delta log (the r6 swap-write layout).
    * Reading that with the partitioned schema would surface every
    * ingest_shard as null and the in-flight-shard filter would silently
    * drop the whole history — so detect and refuse instead. */
  private def hasLegacyLabelLayout(fs: org.apache.hadoop.fs.FileSystem,
      lp: org.apache.hadoop.fs.Path): Boolean =
    fs.listStatus(lp).exists(s =>
      s.isFile && !s.getPath.getName.startsWith("_"))

  /** One-time upgrade for an index whose labels/ was written before the
    * delta log (flat files, no partitions): rewrite the flat rows as a
    * single "legacy" shard partition via stage/retire/promote (readers
    * heal a crashed swap through the recoverUpsertTarget call in
    * [[readRawLabels]]). The legacy rows are already CURRENT star labels
    * (the old layout rewrote them wholesale each shard), so one partition
    * holding them verbatim preserves every read path. Returns true if a
    * migration ran, false if the layout was already current. Idempotent. */
  def migrateLegacyLabels(spark: SparkSession, root: String): Boolean = {
    val lp = new org.apache.hadoop.fs.Path(labelsPath(root))
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.streaming.EventStreams.recoverUpsertTarget(fs, labelsPath(root))
    if (!fs.exists(lp) || !hasLegacyLabelLayout(fs, lp)) return false
    val flat = spark.read.schema(StructType(Seq(
        StructField("id", LongType), StructField("cluster_id", LongType))))
      .parquet(labelsPath(root))
      .withColumn("ingest_shard", lit("legacy"))
    val stage = new org.apache.hadoop.fs.Path(
      labelsPath(root) + "__migrate_stage")
    fs.delete(stage, true)
    flat.write.partitionBy("ingest_shard").mode("overwrite")
      .parquet(stage.toString)
    val old = new org.apache.hadoop.fs.Path(labelsPath(root) + "__old")
    require(fs.rename(lp, old), s"label retire failed: $lp")
    require(fs.rename(stage, lp), s"label promote failed: $stage")
    fs.delete(old, true)
    true
  }

  /** The raw label delta log: every (id, cluster_id) row ever appended,
    * with its `ingest_shard`. An in-flight shard is excluded so a
    * half-written previous attempt of the same shard is invisible. */
  private def readRawLabels(spark: SparkSession, root: String,
      excludeShard: Option[String] = None): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heals a migrateLegacyLabels swap that died between retire and
    // promote (labels__old holds the state); its stage-dir cleanup is a
    // no-op here since the migration stages under a different suffix
    graft.streaming.EventStreams.recoverUpsertTarget(fs, labelsPath(root))
    val lp = new org.apache.hadoop.fs.Path(labelsPath(root))
    val base =
      if (fs.exists(lp)) {
        require(!hasLegacyLabelLayout(fs, lp),
          s"labels/ under $root uses the pre-delta-log flat layout; run " +
            "IncrementalDedup.migrateLegacyLabels(spark, root) once to " +
            "upgrade (silent option: the old rows would read with null " +
            "ingest_shard and be dropped by shard filters)")
        spark.read.schema(labelsSchema).parquet(labelsPath(root))
      } else
        spark.range(0).select(col("id"), col("id").as("cluster_id"),
          lit("").as("ingest_shard"))
    excludeShard.fold(base)(s => base.filter(col("ingest_shard") =!= lit(s)))
  }

  /** The CURRENT (id, cluster_id) star labels from the append-only delta
    * log: roots only ever decrease as clusters merge, so a doc's current
    * root is the minimum over its row history. One aggregation over the
    * narrow log — the read-side cost of never rewriting on ingest. */
  def currentLabels(spark: SparkSession, root: String): DataFrame =
    readRawLabels(spark, root)
      .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))

  /** Per-doc report: every doc of `docs` with its resolved cluster and
    * survivor flag (survivor = not in any pair, or its cluster's min id). */
  private def report(docs: DataFrame, idCol: String,
      labels: DataFrame): DataFrame =
    docs.select(col(idCol).as("id"))
      .join(labels.select(col("id"), col("cluster_id").as("__c")), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__c"), col("id")).as("cluster_id"),
        (col("__c").isNull || col("__c") === col("id")).as("survived"))

  /** Build the index from an initial corpus: full within-corpus LSH dedup
    * (same pair semantics as [[Dedup.minhashLshPairs]] at `p.threshold`),
    * then persist buckets + shingles + labels + meta. Returns the per-doc
    * (id, cluster_id, survived) report for the initial corpus. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      root: String, p: Params = Params(),
      shardId: String = "shard0"): DataFrame = {
    val spark = docs.sparkSession
    // NOT persisted: caching 10^5+ array<long> rows pays a columnar
    // cache build/read that measured SLOWER than recomputing the narrow
    // codegen'd tokenize+hash subtree (the same measurement documented on
    // Dedup.bucketCandidates' caller); only the tiny candidate-pair frame
    // is materialized
    val sh = shingleSets(docs, idCol, textCol, p.shingleW)
    val buckets = bandBuckets(sh, p)
    val cand = Dedup.bucketCandidates(buckets, p.maxBucket).persist()
    graft.bench.StageTimers.time("incdedup.build_cand") { cand.count() }
    // verify-side shingles recomputed only for docs in a candidate pair
    // (semi-join prune) — at corpus scale candidates are orders of
    // magnitude fewer than docs, exactly minhashLshPairs' shape
    val candIds = cand.select(col("id_a").as("id"))
      .unionByName(cand.select(col("id_b").as("id"))).distinct()
    val pairs = Dedup.jaccardOnPairs(cand, distinctSh(sh, candIds))
      .filter(col("jaccard") >= p.threshold)
      .select(col("id_a"), col("id_b"))
    val labels = Dedup.resolveClusters(pairs)
    graft.bench.StageTimers.time("incdedup.build_writes") {
      ShardStore.write(buckets, bucketsPath(root), shardId)
      // sig-less docs are not index state (they can never pair)
      ShardStore.write(sh.filter(size(col("sh")) > 0),
        shinglesPath(root), shardId)
      ShardStore.write(labels, labelsPath(root), shardId)
      writeMeta(spark, root, p)
    }
    // report from the in-memory (checkpointed) labels, NOT a re-read of
    // labels/: a later addShard swap deletes those files, which would turn
    // a still-unevaluated report plan into a FileNotFound at use time
    val out = report(docs, idCol, labels)
    cand.unpersist()
    out
  }

  /** Ingest one shard against the index WITHOUT re-scanning the corpus:
    *   1. shingle+sign the shard (map-only, shard-sized);
    *   2. cross candidates = shard buckets ⋈ index buckets on
    *      (band, bucket) — the index side is a narrow scan of `buckets/`,
    *      never the corpus text, and AQE broadcasts the (small) shard side
    *      so the index never shuffles;
    *   3. shard-internal candidates via the usual hot-bucket-capped
    *      same-bucket self-join;
    *   4. exact-Jaccard verify — OLD docs' shingle sets come from
    *      `shingles/` pruned by a semi-join to candidate ids (the only
    *      non-shard-sized read, and it is candidate-sized);
    *   5. resolve ONLY the label components the verified pairs touch
    *      (see below), append the changed label rows as this shard's
    *      delta partition, append the shard's buckets and shingles.
    * Returns the shard's per-doc (id, cluster_id, survived) report.
    * Requires ids globally unique across all ingested shards.
    *
    * TOUCHED-COMPONENT RESOLUTION (why ingest never reads, shuffles, or
    * rewrites the full label history): the log maintains the invariant
    * that after every COMPLETED shard, every doc in a changed component
    * has a row pointing DIRECTLY at the component's current root —
    * [[Dedup.resolveClusters]] re-labels every member of every touched
    * component and the delta keeps all changed rows, while unchanged
    * members already hold a current-root row from before. Under that
    * invariant two pruned scans close the transitive neighborhood:
    *   scan 1 — rows of the pair ids themselves; their `cluster_id`s
    *     include every current root (and any stale former root) adjacent
    *     to the shard;
    *   scan 2 — rows whose `cluster_id` is one of those roots; by the
    *     invariant that is every member of every adjacent component
    *     (stale rows it misses connect only ids already pulled, so they
    *     are redundant connectivity).
    * Both scans are broadcast semi-joins (pair ids / roots are
    * shard-bounded — same contract as the bucket probe's broadcast), so
    * label rows never ride an exchange. Crash replay preserves the
    * invariant because the in-flight shard's half-written delta is
    * excluded from scan input, making the re-run byte-identical. */
  /** Gate for [[addShard]]'s small-history fast path: label logs under
    * this many parquet bytes (~a few hundred thousand rows) are collected
    * once and diffed on the driver — identical output to the two-scan
    * broadcast path, at roughly half the Spark-job round-trips, which
    * dominate wall-time at small scale (measured: the probe/anti-join
    * chain is ~2-4s of pure scheduling per ingest on a 35-doc fixture).
    * Same driver-local-under-a-bound pattern as
    * [[Dedup.resolveClusters]]'s union-find cutover. */
  val LocalHistoryBytes: Long = 8L << 20

  def addShard(spark: SparkSession, root: String, shard: DataFrame,
      idCol: String, textCol: String, shardId: String,
      localHistoryBytes: Long = LocalHistoryBytes): DataFrame = {
    val p = readMeta(spark, root)
    // same no-persist rationale as buildIndex: the shard subtrees are
    // map-only and codegen'd; only the candidate-pair frame materializes
    val sh2 = shingleSets(shard, idCol, textCol, p.shingleW)
    val buckets2 = bandBuckets(sh2, p)
    val cross = crossProbe(spark, root, buckets2, shardId, p.maxBucket)
    val inner = Dedup.bucketCandidates(buckets2, p.maxBucket)
    val cand = cross.unionByName(inner).distinct().persist()
    val nCand =
      graft.bench.StageTimers.time("incdedup.shard_cand") { cand.count() }
    val candIds = cand.select(col("id_a").as("id"))
      .unionByName(cand.select(col("id_b").as("id"))).distinct()
    val oldSh = distinctSh(
      spark.read.schema(shinglesSchema).parquet(shinglesPath(root))
        .filter(col("ingest_shard") =!= lit(shardId))
        .select(col("id"), col("sh")),
      candIds)
    val shAll = distinctSh(sh2, candIds).unionByName(oldSh)
    val pairs = Dedup.jaccardOnPairs(cand, shAll)
      .filter(col("jaccard") >= p.threshold)
      .select(col("id_a"), col("id_b"))
    val raw = readRawLabels(spark, root, excludeShard = Some(shardId))
    val labelBytes = {
      val lp = new org.apache.hadoop.fs.Path(labelsPath(root))
      val lfs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (lfs.exists(lp)) lfs.getContentSummary(lp).getLength else 0L
    }
    // hard row cap for the fast path, enforced on the ACTUAL collected
    // count (the byte gate sees compressed parquet, and delta/RLE-encoded
    // sorted longs can decode far past it): limit(cap + 1) costs nothing
    // extra — it rides the one collect the fast path does anyway — and an
    // overflow falls through to the at-scale path
    val maxLocalRows = 2000000
    def fastPath(): Option[(DataFrame, DataFrame, () => Unit)] =
      graft.bench.StageTimers.time("incdedup.label_local") {
        // SMALL-HISTORY FAST PATH: one bounded collect of the label log,
        // current labels and the changed-row delta computed on the
        // driver. Output is identical to the broadcast path below —
        // resolveClusters over pairs plus the CURRENT star edges reaches
        // exactly the same components, and the delta keeps exactly the
        // rows whose current label changed (preserving the direct-root
        // invariant the at-scale path's closure argument needs).
        val collected = raw.select(col("id"), col("cluster_id"))
          .limit(maxLocalRows + 1).collect()
        if (collected.length > maxLocalRows) None
        else {
          // primitive map, not boxed HashMap — the same measurement that
          // motivated Dedup.LongLongMap for the union-find
          val cur = new Dedup.LongLongMap(collected.length * 2)
          collected.foreach { r =>
            val id = r.getLong(0); val c = r.getLong(1)
            if (!cur.contains(id) || c < cur.get(id)) cur.put(id, c)
          }
          val edgeRows = Seq.newBuilder[org.apache.spark.sql.Row]
          cur.foreachKey { id =>
            val c = cur.get(id)
            if (id != c) edgeRows += org.apache.spark.sql.Row(c, id)
          }
          val edgesDf = spark.createDataFrame(
            java.util.Arrays.asList(edgeRows.result(): _*),
            StructType(Seq(StructField("id_a", LongType),
              StructField("id_b", LongType))))
          val resolved = Dedup.resolveClusters(pairs.unionByName(edgesDf))
          // bounded: resolved covers pair ids + history ids, both gated
          val deltaRows = resolved.collect().filter { r =>
            val id = r.getLong(0)
            !(cur.contains(id) && cur.get(id) == r.getLong(1))
          }
          val deltaDf = spark.createDataFrame(
            java.util.Arrays.asList(deltaRows: _*),
            StructType(Seq(StructField("id", LongType),
              StructField("cluster_id", LongType))))
          // local rows all the way down: nothing here re-reads index files
          // after the writes below, so no lineage cut is needed
          Some((resolved, deltaDf, () => ()))
        }
      }
    def scalePath(): (DataFrame, DataFrame, () => Unit) =
      graft.bench.StageTimers.time("incdedup.label_probe") {
        // AT-SCALE PATH (touched components only; see the closure argument
        // above). pairs persisted: consumed twice (probe ids + resolve
        // input) and the verify join behind it is the expensive leg.
        val pairsP = pairs.persist()
        val pairIds = pairsP.select(col("id_a").as("id"))
          .unionByName(pairsP.select(col("id_b").as("id"))).distinct()
        val r1 = raw.join(broadcast(pairIds), Seq("id"), "left_semi")
        val roots = r1.select(col("cluster_id")).distinct()
        val pulled = raw
          .join(broadcast(roots), Seq("cluster_id"), "left_semi")
          .persist()
        val edges = pulled.filter(col("id") =!= col("cluster_id"))
          .select(col("cluster_id").as("id_a"), col("id").as("id_b"))
        val resolved = Dedup.resolveClusters(pairsP.unionByName(edges))
        // append only rows the shard actually changed: anti-join against
        // the pulled ids' current labels (new ids have no pulled row and
        // pass through) — unchanged members keep their existing
        // current-root row, preserving the direct-root invariant
        val currentPulled = pulled.groupBy(col("id"))
          .agg(min(col("cluster_id")).as("cluster_id"))
        // EAGER LINEAGE CUT before any index write: delta's logical plan
        // transitively scans buckets/shingles/labels (pulled <- pairIds
        // <- pairs <- cand), and the partition writes below recache every
        // cached plan that reads those paths — re-executing the lineage
        // against a directory whose partition LAYOUT just changed (the
        // first shard after an empty build grows partition dirs the
        // original relation never saw) crashes the reader with a
        // partition-schema mismatch. localCheckpoint truncates the plan
        // to materialized blocks, so no index write can re-trigger it;
        // the delta is touched-sized by the scale contract, and a lost
        // block just fails the shard, which replays idempotently
        val delta = resolved
          .join(currentPulled, Seq("id", "cluster_id"), "left_anti")
          .localCheckpoint(true)
        (resolved, delta, () => { pairsP.unpersist(); pulled.unpersist(); () })
      }
    val (resolved, delta, cleanup) =
      if (labelBytes <= localHistoryBytes && nCand <= 500000L)
        fastPath().getOrElse(scalePath())
      else scalePath()
    // every cached plan reading index files is dropped pre-write for the
    // same recache reason; `resolved` is safe (local rows or checkpointed)
    cand.unpersist()
    cleanup()
    graft.bench.StageTimers.time("incdedup.shard_writes") {
      ShardStore.write(buckets2, bucketsPath(root), shardId)
      ShardStore.write(sh2.filter(size(col("sh")) > 0),
        shinglesPath(root), shardId)
      ShardStore.write(delta, labelsPath(root), shardId)
    }
    // report from the in-memory resolution: it covers every shard doc
    // that entered a pair; the rest survive via the left-join miss
    val out = report(shard, idCol, resolved)
    delta.unpersist()
    out
  }

  /** The cross-shard candidate probe — the scale-critical join: the index
    * side is a NARROW scan of `buckets/` (never corpus text) with the
    * in-flight shard excluded via PARTITION PRUNING (a half-written
    * previous attempt of the same shard is invisible at the file listing),
    * and the shard side broadcasts, so index ROWS never ride an exchange
    * (the one hash exchange in the plan carries per-bucket partial
    * AGGREGATES — (band, bucket, count, min, max) — from the hot-bucket
    * sizing below, map-side combined). Both properties are plan-guarded
    * by spec; `private[graft]` for exactly that guard.
    *
    * HOT-BUCKET CAP (the probe-side analogue of
    * [[Dedup.bucketCandidates]]'s): an index bucket that accumulated more
    * than `maxBucket` members across shards — boilerplate corpora do this
    * — would otherwise emit |shard∩bucket| x |index∩bucket| candidates
    * and explode the "candidate-sized" verify. Buckets over the cap
    * star-link instead: each probing shard doc pairs with only the
    * bucket's min-id and max-id index members (the same dual-anchor
    * degradation, same documented recall bound — a true near-dup still
    * collides in its other bands with overwhelming probability). Index
    * bucket sizes are computed only for buckets the shard actually
    * probes (semi-join prune on the shard's distinct bucket keys), so
    * the sizing pass is probe-bounded, not index-bounded. */
  private[graft] def crossProbe(spark: SparkSession, root: String,
      buckets2: DataFrame, shardId: String,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val oldBuckets = spark.read.schema(bucketsSchema).parquet(bucketsPath(root))
      .filter(col("ingest_shard") =!= lit(shardId))
      .select(col("id").as("__old_id"), col("band"), col("bucket"))
    val probedKeys = buckets2.select(col("band"), col("bucket")).distinct()
    val probed = oldBuckets.join(broadcast(probedKeys),
      Seq("band", "bucket"), "left_semi")
    val stats = probed.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__bsz"), min(col("__old_id")).as("__bmin"),
        max(col("__old_id")).as("__bmax"))
    val smallKeys = stats.filter(col("__bsz") <= maxBucket)
      .select(col("band"), col("bucket"))
    val crossSmall = probed
      .join(broadcast(smallKeys), Seq("band", "bucket"), "left_semi")
      .join(broadcast(buckets2), Seq("band", "bucket"))
    val crossHot = buckets2.join(
        broadcast(stats.filter(col("__bsz") > maxBucket)
          .select(col("band"), col("bucket"), col("__bmin"), col("__bmax"))),
        Seq("band", "bucket"))
      .select(col("id"),
        explode(array(col("__bmin"), col("__bmax"))).as("__old_id"))
    crossSmall.select(col("id"), col("__old_id"))
      .unionByName(crossHot.select(col("id"), col("__old_id")))
      .filter(col("id") =!= col("__old_id"))
      .select(least(col("id"), col("__old_id")).as("id_a"),
        greatest(col("id"), col("__old_id")).as("id_b"))
  }

  /** A shard's (id, band, bucket) probe rows — [[crossProbe]]'s shard-side
    * input, exposed for the plan-guard spec. */
  private[graft] def shardBuckets(shard: DataFrame, idCol: String,
      textCol: String, p: Params): DataFrame =
    bandBuckets(shingleSets(shard, idCol, textCol, p.shingleW), p)

  /** The index's current dropped set: every ingested doc whose cluster has
    * a smaller-id member. With [[buildIndex]]/[[addShard]] run shard by
    * shard, this equals the dropped set of ONE full-union dedup over all
    * ingested docs (pinned by spec) — the state-equality claim that makes
    * incremental ingest trustworthy. */
  def droppedIds(spark: SparkSession, root: String): DataFrame =
    currentLabels(spark, root).filter(col("id") =!= col("cluster_id"))
      .select(col("id"))

  /** Shard-partition ids currently present under any of the index's three
    * tables — the existence record the retraction feeds validate against:
    * [[compactShards]] collapses per-shard directories into one, and a
    * feed diffing history "as of shard X" after X's directory is gone
    * would see no published-label rows, fall back to `old_cluster = id`,
    * and silently emit a spurious retraction for every non-root published
    * doc. One driver-side directory listing per table, no data read. */
  private def liveShardIds(spark: SparkSession, root: String): Set[String] =
    Seq(bucketsPath(root), shinglesPath(root), labelsPath(root))
      .flatMap(ShardStore.shards(spark, _)).toSet

  /** Fail fast when a retraction feed names shards [[compactShards]] has
    * already collapsed (the feed's answer is unreconstructable then — the
    * scaladoc contract says republish BEFORE compacting, and this turns a
    * silent wrong feed into an immediate error). */
  private def requireShardsLive(spark: SparkSession, root: String,
      shards: Seq[String], caller: String): Unit = {
    val live = liveShardIds(spark, root)
    val gone = shards.filterNot(live)
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"$caller refers to shard(s) ${gone.mkString(", ")} that no " +
        "longer exist as index partitions — compactShards collapsed the " +
        "per-shard history this feed diffs. Republish (or record the " +
        "delta) BEFORE compacting; after compaction the feed cannot be " +
        "reconstructed.")
  }

  /** The retraction feed a downstream consumer needs after cluster merges
    * (closing the append-only publication caveat documented above): for
    * every doc whose label a LATER shard changed, emit
    * (id, old_cluster, new_cluster), where `old_cluster` is the label as
    * of the already-published shards (`publishedShards`) and
    * `new_cluster` the current one. Docs first labeled AFTER the
    * publication point are excluded — their own shard's report already
    * published them correctly. Cost: one aggregation over the narrow
    * label log, same as [[currentLabels]].
    *
    * Interplay with [[compactShards]]: label compaction collapses the
    * per-shard history this diff reads — republish (or record the delta)
    * BEFORE compacting the shards it refers to. */
  def republishDelta(spark: SparkSession, root: String,
      publishedShards: Seq[String]): DataFrame = {
    requireShardsLive(spark, root, publishedShards, "republishDelta")
    val raw = readRawLabels(spark, root)
    // the published-as-of view covers EVERY doc the published shards
    // ingested, not just the ones with label rows: a doc that entered no
    // pair was published as an implicit singleton survivor (label = its
    // own id), and a later merge must be able to retract exactly that.
    // Existence comes from the shingle table (one narrow row per doc,
    // partition-pruned to the published shards); its id column is the
    // only thing read.
    val pubIds = spark.read.schema(shinglesSchema).parquet(shinglesPath(root))
      .filter(col("ingest_shard").isin(publishedShards.map(s => s: Any): _*))
      .select(col("id")).distinct()
    val pubLabels = raw
      .filter(col("ingest_shard").isin(publishedShards.map(s => s: Any): _*))
      .groupBy(col("id")).agg(min(col("cluster_id")).as("__pl"))
    val old = pubIds.join(pubLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("__pl"), col("id")).as("old_cluster"))
    val cur = raw.groupBy(col("id"))
      .agg(min(col("cluster_id")).as("new_cluster"))
    old.join(cur, Seq("id"))
      .filter(col("old_cluster") =!= col("new_cluster"))
      .select(col("id"), col("old_cluster"), col("new_cluster"))
  }

  /** The TOUCHED-SIZED per-shard retraction feed — what a streaming
    * consumer runs after every ingest, where [[republishDelta]] (an
    * arbitrary-publication-point reconciliation) aggregates the whole
    * label log per call: for the docs whose labels `shardId` changed,
    * emit (id, old_cluster, new_cluster). Reads ONLY the shard's own
    * delta partition (partition-pruned) plus the prior history rows of
    * exactly those ids (broadcast semi-join — delta-bounded, the same
    * contract as the ingest probe). Docs first labeled BY this shard have
    * no prior row and are excluded (their own shard report already
    * published them). Equals `republishDelta(root, allShardsBefore)` run
    * immediately after the shard (pinned by spec) — call it BEFORE any
    * later ingest or [[compactShards]] collapses the history it diffs. */
  def retractionsForShard(spark: SparkSession, root: String,
      shardId: String): DataFrame = {
    requireShardsLive(spark, root, Seq(shardId), "retractionsForShard")
    val raw = readRawLabels(spark, root)
    val deltaShard = raw.filter(col("ingest_shard") === lit(shardId))
      .select(col("id"), col("cluster_id").as("new_cluster"))
    val deltaIds = deltaShard.select(col("id"))
    val priorLabels = raw.filter(col("ingest_shard") =!= lit(shardId))
      .join(broadcast(deltaIds), Seq("id"), "left_semi")
      .groupBy(col("id")).agg(min(col("cluster_id")).as("__prior"))
    // prior EXISTENCE is not prior labels: a doc ingested earlier that
    // never entered a pair was published as an implicit singleton
    // survivor (label = its own id) and has NO label row — a later merge
    // pulling it into a cluster must still retract it. The shingle table
    // (one narrow row per doc) is the existence record; only its id
    // column is read, semi-joined down to the delta's ids.
    val priorIds = spark.read.schema(shinglesSchema).parquet(shinglesPath(root))
      .filter(col("ingest_shard") =!= lit(shardId))
      .join(broadcast(deltaIds), Seq("id"), "left_semi")
      .select(col("id")).distinct()
    deltaShard.join(priorIds, Seq("id"), "left_semi")
      .join(priorLabels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__prior"), col("id")).as("old_cluster"),
        col("new_cluster"))
      .filter(col("old_cluster") =!= col("new_cluster"))
  }

  /** Index maintenance: consolidate ingested shard partitions — after
    * thousands of small-shard ingests the per-shard directories are
    * exactly the small-files problem q51's compaction solves for data
    * tables (every probe lists and opens per-shard files). Each table
    * compacts on its own through [[ShardStore.compact]] (protocol, tier
    * naming and crash handling live there), SIZE-TIERED by
    * `tierMaxBytes` (default ∞ = compact everything): only shards at or
    * under the tier merge, so a mature store consolidates its
    * small-shard tail without rewriting the accumulated base.
    *
    * Consolidation rules are associative, so folding a tier early
    * leaves every read's outer fold exact: exact-key dedup for buckets
    * and shingles, min-root aggregation for labels. They also absorb a
    * crash leftover (a source surviving next to its tier) on the next
    * run that reads both, and every read path tolerates the duplicate in
    * the meantime — candidate pairs are `.distinct()`ed and
    * [[Dedup.resolveClusters]] is multiplicity-blind; left in place,
    * doubled bucket rows would inflate [[crossProbe]]'s per-bucket sizes
    * and could push a small bucket over `maxBucket`. The label table
    * compacts to its CURRENT star rows — run [[republishDelta]] for any
    * pending publication point first, since compaction collapses the
    * per-shard history it diffs (a feed naming a collapsed shard fails
    * fast via the shard-existence check instead of emitting a spurious
    * delta). Returns (shard dirs before, after) per table (buckets,
    * shingles, labels), for monitoring. */
  def compactShards(spark: SparkSession, root: String,
      tierMaxBytes: Long = Long.MaxValue)
      : ((Int, Int), (Int, Int), (Int, Int)) = {
    def compactOne(path: String, schema: StructType,
        consolidate: DataFrame => DataFrame): (Int, Int) =
      ShardStore.compact(spark, tierMaxBytes,
        ShardStore.Table(path, schema, consolidate))
    (compactOne(bucketsPath(root), bucketsSchema,
        _.dropDuplicates("id", "band", "bucket")),
      compactOne(shinglesPath(root), shinglesSchema,
        _.dropDuplicates("id")),
      compactOne(labelsPath(root), labelsSchema,
        _.groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))))
  }
}
