package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental exact-substring dedup against a PERSISTED window index —
  * the store/shard-ingest twin of [[Dedup.exactSubstrDedup]] (Lee et
  * al. '22 ExactSubstr, keep-one), completing the family symmetry:
  * exact, MinHash ([[IncrementalDedup]]), and semantic dedup all have
  * touched-sized shard ingest; batch-only ExactSubstr would re-pay the
  * full corpus-wide window aggregate (~one window per token — ~180M
  * windows at the 10M-doc smoke point) on EVERY shard arrival.
  *
  * Index layout (v2 — key-bucketed) under one root path:
  *   - `windows/` — RAW anchor-window occurrences (gk, id, pos), one
  *     row per length-minLen token window, partitioned by
  *     `ingest_shard` and then `__bkt = pmod(xxhash64(gk), nBuckets)`.
  *     Narrow rows (~20 B/window where the text is ~6 B/token): ingest
  *     scans THIS, never the corpus text.
  *     DELIBERATELY unaggregated — storing per-key (count, canonical)
  *     would require a corpus-wide min(struct(id, pos)) aggregate at
  *     build time, carrying a struct buffer for every mostly-unique
  *     gram key: EXACTLY the fused-aggregate shape that OOM'd the 10M
  *     batch run and forced [[Dedup.exactSubstrDedup]]'s two-aggregate
  *     spelling. Raw rows make the build a pure map+write with NO
  *     aggregate (and no exchange — the bucket is a map-side column,
  *     never a repartition); count and canonical are computed at PROBE
  *     time, after the semi-join prune, where every group is
  *     shard-touched by construction.
  *     The `__bkt` subdirectories exist for ONE reason: a shard too big
  *     for the broadcast gate probes bucket by bucket (see
  *     [[MaxBroadcastKeys]]), and partition pruning confines each leg
  *     to its bucket's files — index rows never ride an exchange at ANY
  *     shard size. Size `nBuckets` so a worst-case shard's distinct
  *     keys divided by `nBuckets` stays under the gate
  *     (keys_jumbo / (MaxBroadcastKeys / 2) is a safe rule); the
  *     default 16 covers shards up to ~32M distinct keys.
  *   - `meta/` — one row pinning (min_len, digest_keys, n_buckets):
  *     probes MUST window, key, and bucket exactly like the build did,
  *     so [[addShard]] reads its parameters from the index instead of
  *     trusting the caller to repeat them. A v1 (pre-bucket) index is
  *     refused with a clear error — rebuild via [[buildIndex]].
  *   - `reports/` — the per-shard as-of dedup reports [[addShard]]
  *     write-throughs (callers may redirect via `reportDir`, e.g. the
  *     streaming sink's batch-partitioned layout).
  *
  * STATE EQUALITY (the contract every spec pins): the union of
  * `windows/` partitions IS the batch operator's span frame over the
  * union corpus — identical rows by construction, not an equivalent
  * summary — so any batch readout replayed over the store
  * ([[dedupWithIndex]]) equals [[Dedup.exactSubstrDedup]] over the
  * full union, and [[addShard]]'s as-of report equals the batch run
  * over the union-so-far restricted to the shard's ids. The bucket
  * column is derived (a pure function of gk) and invisible to state:
  * dropping it recovers the v1 frame row for row.
  *
  * SCALE CONTRACT: per-shard ingest cost is bounded by shard size +
  * touched-occurrence count (prior occurrences of the shard's keys),
  * NOT by the accumulated corpus: the one index-sized operation is a
  * NARROW columnar scan of `windows/`, either under one broadcast
  * semi-join on the shard's distinct keys (shard-token-bounded, a few
  * MB of longs in digest mode) or — past the gate — under per-bucket
  * broadcast legs that scan only their bucket's files. Index rows
  * never ride an exchange; the corpus text is never re-read or
  * re-tokenized.
  *
  * APPEND-ONLY CAVEAT (inherent to incremental publishing, the
  * [[IncrementalDedup]] precedent): a shard can duplicate a span that
  * was unique when an earlier shard published, or (smaller id) STEAL
  * the canonical from an already-published occurrence. The index
  * state stays exactly batch-equal; the earlier shard's published
  * text is not retracted by the ingest itself —
  * [[retractionsForShard]] emits the evidence feed that reconciles
  * downstream consumers.
  *
  * Single writer ([[ShardStore]]'s contract). Requires ids globally
  * unique across shards and totally ordered (canonical selection is
  * min (id, pos)).
  *
  * Reference behavior: Lee et al. '22 ("Deduplicating Training Data
  * Makes Language Models Better"), ExactSubstr; windowing per
  * [[Dedup.exactSubstrDedup]]'s anchor-window observation. */
object ExactSubstrStore {

  /** Index parameters, persisted in `meta/` and read back by probes.
    * `nBuckets` fixes the physical key-bucket fanout at build time —
    * see the layout scaladoc for the sizing rule. */
  final case class Params(minLen: Int = 50, digestKeys: Boolean = false,
      nBuckets: Int = 16)

  private def windowsPath(root: String) = s"$root/windows"
  private def metaPath(root: String) = s"$root/meta"
  private def reportsPath(root: String) = s"$root/reports"

  private def gkType(p: Params): DataType =
    if (p.digestKeys) LongType else StringType

  private def windowsSchema(p: Params) = StructType(Seq(
    StructField("__gk", gkType(p)),
    StructField("id", LongType), StructField("pos", IntegerType),
    StructField("ingest_shard", StringType),
    StructField("__bkt", IntegerType)))

  private val reportSchema = StructType(Seq(
    StructField("id", LongType), StructField("n_tokens", LongType),
    StructField("n_removed", LongType),
    StructField("clean_text", StringType)))

  private def bucketOf(p: Params) =
    pmod(xxhash64(col("__gk")), lit(p.nBuckets)).cast("int")

  private def writeMeta(spark: SparkSession, root: String, p: Params): Unit =
    ShardStore.writeMeta(spark, "exsub", metaPath(root), p)(
      lit(p.minLen).as("min_len"), lit(p.digestKeys).as("digest_keys"),
      lit(p.nBuckets).as("n_buckets"))

  /** The parameters this index was built with (probes must match them;
    * memoized per root until `meta/` is rewritten —
    * [[ShardStore.cached]]).
    * Refuses a v1 (pre-bucket) index: its `windows/` has no `__bkt`
    * subdirectories, so every v2 read would silently see null buckets. */
  def readMeta(spark: SparkSession, root: String): Params =
    ShardStore.readMeta(spark, "exsub", metaPath(root)) { r =>
      require(r.schema.fieldNames.contains("n_buckets"),
        s"$root is a v1 (pre-key-bucketing) ExactSubstr index; rebuild it " +
          "with buildIndex — the v2 probe prunes by __bkt subdirectory")
      Params(r.getAs[Int]("min_len"), r.getAs[Boolean]("digest_keys"),
        r.getAs[Int]("n_buckets"))
    }

  /** Land `df` (__gk, id, pos) as the named shard's partition,
    * bucketed map-side — the bucket column is computed per row, never
    * repartitioned, so the build/ingest write stays exchange-free
    * (Spark's planned V1 write sorts within tasks by partition cols,
    * so each task streams its buckets one open file at a time). */
  private def writeShardPartition(df: DataFrame, path: String,
      shardId: String, p: Params): Unit =
    ShardStore.write(df.withColumn("__bkt", bucketOf(p)), path, shardId,
      "__bkt")

  /** (id, pos, __gk) anchor windows of `docs` — the batch operator's
    * span frame, bit-identical keying (same tokenizer, same gram
    * join, same xxhash64 digest). */
  private def windowFrame(docs: DataFrame, idCol: String, textCol: String,
      p: Params): DataFrame =
    docs.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("id"), posexplode(
        graft.functions.WordGramFunctions.word_grams(col("toks"), p.minLen))
        .as(Seq("pos", "gram")))
      // digest map-side, BEFORE any shuffle consumer — gram strings
      // never leave codegen (the batch operator's convention)
      .select(
        (if (p.digestKeys) xxhash64(col("gram")) else col("gram"))
          .as("__gk"),
        col("id"), col("pos"))

  /** All stored occurrences WITH partition columns (for per-shard and
    * per-bucket pruning). Explicit schema: an index built from an empty
    * corpus has partition dirs with no data files, where inference
    * would fail. */
  private def windowsRaw(spark: SparkSession, root: String,
      p: Params): DataFrame =
    spark.read.schema(windowsSchema(p)).parquet(windowsPath(root))

  /** All stored window occurrences, optionally excluding one in-flight
    * shard (crash replay: a half-written previous attempt of the same
    * shard is invisible via partition pruning). */
  private def readWindows(spark: SparkSession, root: String, p: Params,
      excludeShard: Option[String]): DataFrame = {
    val all = windowsRaw(spark, root, p)
    excludeShard.fold(all)(s => all.filter(col("ingest_shard") =!= lit(s)))
      .select(col("__gk"), col("id"), col("pos"))
  }

  /** Build the index from an initial corpus: window + write — a pure
    * map-side pass, no aggregate, no exchange (see the layout scaladoc
    * for why that is load-bearing at scale). No report is computed
    * here; the initial corpus's own dedup verdicts come from
    * [[Dedup.exactSubstrDedup]] (batch) or [[dedupWithIndex]]. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      root: String, p: Params = Params(),
      shardId: String = "base"): Unit = {
    require(p.minLen >= 2, "need minLen >= 2")
    require(p.nBuckets >= 1, "need nBuckets >= 1")
    val spark = docs.sparkSession
    writeShardPartition(windowFrame(docs, idCol, textCol, p),
      windowsPath(root), shardId, p)
    writeMeta(spark, root, p)
  }

  /** Broadcast gate for the key semi-join: a shard's distinct window
    * keys are ~its token count, and broadcasting is only sane while
    * that fits comfortably on the driver/executors (8 B longs in
    * digest mode → the default ~32 MB). A bigger shard probes BUCKET BY
    * BUCKET instead (see [[addShard]]): each leg broadcasts only its
    * bucket's keys against only its bucket's files, so index rows still
    * never ride an exchange — the v1 layout's whole-index shuffle
    * fallback (219s at the 10M 2%-shard smoke point; the bucketed legs
    * read 33.6–40.4s there, BASELINE.md r16) is gone.
    * Only a single BUCKET whose keys alone exceed the gate degrades to
    * a shuffle semi-join, and then only over that bucket's 1/nBuckets
    * slice of the index. */
  val MaxBroadcastKeys: Long = 4000000L

  /** Prior occurrences (all shards except `shardId`) of the named
    * shard's keys — the probe core shared by [[addShard]] and
    * [[retractionsForShard]]. Keys come from the shard's OWN stored
    * partition (narrow pruned scan), never from re-tokenizing text.
    *
    * Under the gate: one broadcast semi-join, lazily composed (no
    * materialization). Past it: sequential per-bucket legs, each
    * confined by partition pruning to one `__bkt` subdirectory on both
    * sides, each broadcasting at most [[MaxBroadcastKeys]] keys —
    * memory is strictly leg-bounded (never all buckets' broadcasts at
    * once, which is why the legs are a driver loop and not one unioned
    * plan), and each leg appends its touched rows to a temp dir under
    * the root that the CALLER deletes once its consumer has
    * materialized. The per-bucket key counts ride one collect of at
    * most nBuckets metadata rows — never data. */
  private def touchedPrior(spark: SparkSession, root: String, p: Params,
      shardId: String, maxBroadcastKeys: Long,
      tmpName: String): (DataFrame, Option[String]) = {
    val all = windowsRaw(spark, root, p)
    val shardW = all.filter(col("ingest_shard") === lit(shardId))
    val prior = all.filter(col("ingest_shard") =!= lit(shardId))
    val bucketCounts = shardW.select(col("__bkt"), col("__gk")).distinct()
      .groupBy(col("__bkt")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sortBy(_._1)
    val totalKeys = bucketCounts.map(_._2).sum
    if (totalKeys <= maxBroadcastKeys) {
      val keys = shardW.select(col("__gk")).distinct()
      (prior.select(col("__gk"), col("id"), col("pos"))
        .join(broadcast(keys), Seq("__gk"), "left_semi"), None)
    } else {
      val tmp = s"$root/$tmpName"
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      // no seed write: the first leg's append creates the dir (at least
      // one bucket exists whenever this branch runs — totalKeys > gate),
      // and the explicit-schema read below is empty-safe even if every
      // leg appended zero rows
      graft.bench.StageTimers.time("exsubstore.probe_legs") {
        bucketCounts.foreach { case (b, nKeys) =>
          val keysB = shardW.filter(col("__bkt") === lit(b))
            .select(col("__gk")).distinct()
          val gated = if (nKeys <= maxBroadcastKeys) broadcast(keysB)
            else keysB // single over-gate bucket: shuffle of 1/nBuckets
          prior.filter(col("__bkt") === lit(b))
            .select(col("__gk"), col("id"), col("pos"))
            .join(gated, Seq("__gk"), "left_semi")
            .write.mode("append").parquet(tmp)
        }
      }
      (spark.read.schema(StructType(windowsSchema(p).take(3))).parquet(tmp),
        Some(tmp))
    }
  }

  /** Ingest one shard WITHOUT re-scanning the corpus. Order of
    * operations (each step idempotent under crash replay):
    *
    *  1. The shard's raw windows land as its `windows/` partition
    *     (dynamic overwrite — a replay rewrites identical rows over any
    *     half-written attempt). Writing FIRST lets every probe read the
    *     shard's keys back as a narrow pruned columnar scan instead of
    *     re-running tokenize+window once per plan reference (the v1
    *     shape paid that lineage three times), and removes the
    *     write-after-lazy-read ordering hazard outright: all probe
    *     plans resolve against the post-write directory state.
    *  2. The probe ([[touchedPrior]]) joins prior occurrences to the
    *     shard's keys; count + canonical aggregate over shard ∪ touched
    *     only (touched-sized groups, so the min(struct) buffer is safe
    *     — see the layout scaladoc); coverage / canonical protection /
    *     splice replay the batch operator's exact stages. The in-flight
    *     shard is excluded from `prior` by partition pruning, so a
    *     replay probes identical pre-shard state.
    *  3. The report WRITES THROUGH to `reportDir` (default
    *     `root/reports/<shardId>`, overwrite = replay-idempotent) and
    *     the returned frame is a plain scan of it — zero
    *     executor-pinned blocks, where the v1 `localCheckpoint(true)`
    *     pinned a jumbo shard's full clean_text in executor memory
    *     (the r14 corpus smoke's 4g OOM shape). The streaming sink
    *     passes its batch partition dir here, making this the ONLY
    *     report write.
    *
    * Returns the shard's as-of report (id, n_tokens, n_removed,
    * clean_text) — pinned equal to `Dedup.exactSubstrDedup(union so
    * far).filter(id in shard)`. */
  def addShard(spark: SparkSession, root: String, shard: DataFrame,
      idCol: String, textCol: String, shardId: String,
      maxBroadcastKeys: Long = MaxBroadcastKeys,
      reportDir: Option[String] = None): DataFrame = {
    val p = readMeta(spark, root)
    graft.bench.StageTimers.time("exsubstore.shard_write") {
      writeShardPartition(windowFrame(shard, idCol, textCol, p),
        windowsPath(root), shardId, p)
    }
    val w = windowsRaw(spark, root, p)
      .filter(col("ingest_shard") === lit(shardId))
      .select(col("__gk"), col("id"), col("pos"))
    val (touched, probeTmp) = touchedPrior(spark, root, p, shardId,
      maxBroadcastKeys, tmpName = "__probe_ingest")
    val unioned = w.unionByName(touched)
    // union-state per key: groups = shard keys only, so the fused
    // count+argmin is touched-sized by construction
    val dupState = unioned.groupBy(col("__gk"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col("id"), col("pos"))).as("__canon"))
      .filter(col("__c") >= 2)
    val shardHits = w.join(dupState.select(col("__gk")), Seq("__gk"),
      "left_semi")
    val tok = shard.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    val report = spliceReport(tok,
      coverage(shardHits, dupState,
        broadcast(tok.select(col("id")).distinct()), p.minLen))
    val dir = reportDir.getOrElse(s"${reportsPath(root)}/$shardId")
    graft.bench.StageTimers.time("exsubstore.report_write") {
      report.write.mode("overwrite").parquet(dir)
    }
    // the report is on disk; the jumbo probe's temp has no consumer left
    probeTmp.foreach { t =>
      new org.apache.hadoop.fs.Path(t)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(t), true)
    }
    spark.read.schema(reportSchema).parquet(dir)
  }

  /** Batch-equal dedup readout from the store: verdicts for `docs`
    * (which must be the ingested union — or any subset of it, for
    * subset reports) computed from stored windows instead of a
    * re-windowing of the corpus. Count pass is count-ONLY (spillable
    * 8-byte buffers over the mostly-unique key space); the argmin runs
    * after the duplicate filter — the batch operator's two-aggregate
    * discipline, replayed over the store. */
  def dedupWithIndex(spark: SparkSession, root: String, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val p = readMeta(spark, root)
    val wAll = readWindows(spark, root, p, excludeShard = None)
    val dupKeys = wAll.groupBy(col("__gk"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2)
      .select(col("__gk"))
    val hits = wAll.join(dupKeys, Seq("__gk"), "left_semi")
    val dupState = hits.groupBy(col("__gk"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col("id"), col("pos"))).as("__canon"))
    val tok = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    val ids = tok.select(col("id")).distinct()
    // only the requested docs' windows generate coverage rows; no
    // broadcast hint — for a full-union readout `ids` is corpus-sized
    val wDocs = hits.join(ids, Seq("id"), "left_semi")
    spliceReport(tok, coverage(wDocs, dupState, ids, p.minLen))
  }

  /** The evidence feed for already-published occurrences whose verdict
    * the named shard's arrival changed: every key the shard touched
    * whose canonical MOVED — either the key was unique before (its
    * single prior occurrence was implicitly kept, and the shard's
    * smaller-(id, pos) copy now claims canonical) or the shard stole
    * an existing canonical. Emits the displaced occurrence (id, pos,
    * prior canonical position of the key). Key-level evidence, the
    * [[IncrementalDedup.republishDelta]] contract: consumers re-run
    * [[dedupWithIndex]] over the named ids for exact rebuilt text
    * (a displaced position can still be protected by an overlapping
    * window that stayed canonical). Empty when every shard occurrence
    * lost to existing canonicals — the common append-mostly case.
    *
    * Past the broadcast gate the probe materializes under
    * `root/__probe_retract`, which the RETURNED frame reads — consume
    * (or discard) the feed before the next retraction call on this
    * root overwrites it; the streaming sink writes it out immediately. */
  def retractionsForShard(spark: SparkSession, root: String,
      shardId: String,
      maxBroadcastKeys: Long = MaxBroadcastKeys): DataFrame = {
    val p = readMeta(spark, root)
    val wS = windowsRaw(spark, root, p)
      .filter(col("ingest_shard") === lit(shardId))
      .select(col("__gk"), col("id"), col("pos"))
    val (touched, _) = touchedPrior(spark, root, p, shardId,
      maxBroadcastKeys, tmpName = "__probe_retract")
    val oldCanon = touched.groupBy(col("__gk"))
      .agg(min(struct(col("id"), col("pos"))).as("__old"))
    val newCanon = touched.unionByName(wS).groupBy(col("__gk"))
      .agg(min(struct(col("id"), col("pos"))).as("__new"))
    oldCanon.join(newCanon, Seq("__gk"))
      .filter(col("__old") =!= col("__new"))
      .select(col("__old.id").as("id"), col("__old.pos").as("pos"))
      .distinct()
  }

  /** Consolidate accumulated per-shard partitions of `windows/` — the
    * file-count hygiene a continuously-ingesting store needs (daily
    * shards for a year = 365 partition dirs whose listing and footer
    * reads tax every probe), SIZE-TIERED: only shards whose partition is
    * at most `tierMaxBytes` are absorbed, so a mature store compacts its
    * tail of small daily shards into a tier WITHOUT rewriting the
    * accumulated base every time (the default ∞ compacts everything).
    * Crash protocol and tier naming: [[ShardStore]].
    *
    * Duplicated window rows INFLATE counts (a unique span would read as
    * duplicated), so the consolidation dedups on the full (gk, id, pos)
    * row — a compact-everything re-run after any crash absorbs and
    * repairs leftovers. Cross-tier duplicate rows are repaired by a
    * compact-everything run, not a tiered one — tiered legs read only
    * their sources. Only compact shards whose ingest has COMPLETED: the
    * consolidated partition no longer matches their shard id, so a
    * later [[addShard]] replay under an absorbed id would count its
    * windows twice (and a post-compaction [[retractionsForShard]] for
    * an absorbed id reads an empty partition). The bucket
    * subdirectories are preserved (`__bkt` rides the read and the staged
    * write), so probe pruning is unaffected. Returns (partitions before,
    * partitions after). */
  def compactShards(spark: SparkSession, root: String,
      tierMaxBytes: Long = Long.MaxValue): (Int, Int) =
    ShardStore.compact(spark, tierMaxBytes,
      ShardStore.Table(windowsPath(root), windowsSchema(readMeta(spark, root)),
        _.dropDuplicates("__gk", "id", "pos"), Seq("__bkt")))

  /** The batch operator's coverage stage over an externally supplied
    * window/dup-state pair: (id, p, protected) for every position of
    * an `ids` doc covered by a duplicated window, protection = covered
    * by a canonical window OF an `ids` doc (a canonical living in a
    * prior-corpus doc protects nothing here — its copy is not among
    * the docs being rebuilt). Mirrors [[Dedup.exactSubstrDedup]]'s
    * coverage stage bit for bit. `ids` arrives pre-wrapped by the
    * caller: [[addShard]] passes `broadcast(ids)` (shard-bounded);
    * [[dedupWithIndex]] passes it plain (a full-union readout's id set
    * is not broadcastable — AQE picks the join strategy). `hits` must
    * already be filtered to duplicated-key windows — hoisted to the
    * callers because [[dedupWithIndex]] arrives pre-filtered and a
    * second gk semi-join here would be two wasted exchanges. */
  private def coverage(hits: DataFrame, dupState: DataFrame,
      ids: DataFrame, minLen: Int): DataFrame = {
    val covDup = hits.select(col("id"),
        explode(sequence(col("pos"), col("pos") + (minLen - 1))).as("p"))
      .distinct()
    val covCanon = dupState
      .select(col("__canon.id").as("id"), col("__canon.pos").as("pos"))
      .join(ids, Seq("id"), "left_semi")
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (minLen - 1))).as("p"))
      .distinct()
      .withColumn("__prot", lit(true))
    covDup.join(covCanon, Seq("id", "p"), "left")
      .select(col("id"), col("p"),
        coalesce(col("__prot"), lit(false)).as("protected"))
  }

  /** Rebuild leg shared by [[addShard]] / [[dedupWithIndex]]: the
    * batch operator's splice over (id, toks) x (id, p, protected). */
  private def spliceReport(tok: DataFrame, cov: DataFrame): DataFrame = {
    val rm = cov.filter(!col("protected"))
      .groupBy(col("id"))
      .agg(sort_array(collect_set(col("p"))).as("__rm"))
    tok.join(rm, Seq("id"), "left")
      .select(col("id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("__rm")), lit(0)).cast("long").as("n_removed"),
        graft.functions.SpliceFunctions
          .token_splice(col("toks"), col("__rm")).as("clean_text"))
  }
}
