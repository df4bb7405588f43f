package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted BM25 inverted-index store — the shard-ingest twin of
  * [[TextAnalysis.bm25TopK]], completing the retrieval leg of the store
  * family (MinHash → [[IncrementalDedup]], ExactSubstr →
  * [[ExactSubstrStore]], SemDeDup → [[SemDedupStore]], CDC →
  * [[CdcStore]]): batch `bm25TopK` re-reads and re-tokenizes the ENTIRE
  * corpus for every retrieval batch, which at decontamination scale
  * (benchmark prompts arriving continuously against a 100 TB corpus) is
  * exactly the corpus-sized re-pay the stores exist to avoid. Here the
  * corpus is tokenized ONCE, at ingest, into a term-bucketed posting
  * layout; a probe reads only the buckets its query vocabulary hashes
  * to — no document text is ever touched again.
  *
  * Layout under one root (the [[ExactSubstrStore]] v2 conventions):
  *   - `postings/` — one row per (doc, term): (term, id, tf, dl),
  *     partitioned by `ingest_shard` then `__bkt =
  *     pmod(xxhash64(term), nBuckets)`. The bucket is a map-side
  *     column (never a repartition); the one exchange a shard write
  *     pays is its own shard-sized (id, term) tf-aggregate.
  *   - `stats/` — ONE scalar row per shard (n_docs, sum_dl),
  *     partitioned by `ingest_shard`: the corpus scalars N and avgdl
  *     are additive across shards, so a probe derives them from a
  *     #shards-sized scan instead of a corpus-sized one. Zero-token
  *     docs carry no postings but DO count here — N and avgdl match
  *     batch `bm25TopK` over the union exactly.
  *   - `terms/` — the DISTINCT terms of each shard, partitioned like
  *     `postings/`: the ingest report's vocabulary probe is a
  *     vocab-sized question, and answering it from the posting rows
  *     would scan one row per (doc, term) — measured 104.7s for a 1%
  *     shard against a 10M-doc / 400M-posting index, with the narrow
  *     full-index term scan dominating. Against this ~40×-smaller
  *     sidecar the same probe is vocab-sized on BOTH sides. Membership
  *     semantics (cross-shard duplicate terms are expected and folded
  *     by compaction) — the [[CdcStore]] digest-set design.
  *   - `meta/` — the tokenizer spelling + bucket fanout: the store
  *     OWNS its keying, so probes tokenize queries bit-identically to
  *     the build.
  *   - `reports/<shard>/` — per-shard ingest reports (write-through;
  *     the streaming sink passes its own batch partition dir).
  *
  * Contract: doc ids are unique across shards (each document is
  * ingested exactly once — the [[IncrementalDedup]] contract). Under
  * it every (id, term) posting row is globally unique, df(term) is a
  * plain row count, and compaction is pure partition concatenation.
  *
  * Probe scale shape: a query's vocabulary is small by the same
  * bounded-side contract as `bm25TopK`'s query frame, so the probe (a)
  * partition-prunes `postings/` to the ≤|query vocab| buckets its
  * terms hash to — with nBuckets=64 a 5-term query reads ≤ 8% of the
  * index, columnar, no text — and (b) broadcasts the query vocab into
  * the semi-join, so index rows never ride an exchange before the
  * touched-sized (≤ Σ df over query terms — what any retrieval engine
  * materializes for these queries) scoring frames. The ingest report's
  * vocabulary-growth probe faces an unbounded side (a shard's distinct
  * terms), so it runs under the [[MaxBroadcastKeys]] gate: broadcast
  * within, sequential per-bucket legs past it (the jumbo-shard shape
  * measured on the window store: 10M docs, 219s whole-index exchange →
  * 40s bucketed legs).
  *
  * Reference has no retrieval-index surface; extension op
  * (Robertson/Sparck-Jones BM25, the Lucene idf spelling — see
  * [[TextAnalysis.bm25TopK]]). */
object Bm25Store {

  /** Layout parameters, persisted in `meta/` and read back by every
    * probe. `tokenizer` pins the keying spelling — "ws_lower" is
    * [[TextAnalysis.tokens]] over lowercased text, the library's one
    * tokenizer; the field exists so a future spelling cannot silently
    * probe an index built with another. */
  final case class Params(tokenizer: String = "ws_lower",
      nBuckets: Int = 16) {
    require(tokenizer == "ws_lower",
      s"unknown tokenizer spelling: $tokenizer")
    require(nBuckets >= 1, "nBuckets must be >= 1")
  }

  /** Broadcast gate for the ingest report's vocabulary probe: a shard
    * with more distinct terms than this probes bucket by bucket
    * instead of broadcasting everything at once (an unconditional
    * broadcast is an un-refusable driver OOM —
    * [[ExactSubstrStore.MaxBroadcastKeys]]). */
  val MaxBroadcastKeys: Long = 4000000L

  private def postingsPath(root: String) = s"$root/postings"
  private def termsPath(root: String) = s"$root/terms"
  private def statsPath(root: String) = s"$root/stats"
  private def metaPath(root: String) = s"$root/meta"
  private def reportsPath(root: String) = s"$root/reports"

  private def postingsSchema = StructType(Seq(
    StructField("term", StringType), StructField("id", LongType),
    StructField("tf", LongType), StructField("dl", LongType),
    StructField("ingest_shard", StringType),
    StructField("__bkt", IntegerType)))

  private def termsSchema = StructType(Seq(
    StructField("term", StringType),
    StructField("ingest_shard", StringType),
    StructField("__bkt", IntegerType)))

  private def statsSchema = StructType(Seq(
    StructField("n_docs", LongType), StructField("sum_dl", LongType),
    StructField("ingest_shard", StringType)))

  private val reportSchema = StructType(Seq(
    StructField("ingest_shard", StringType),
    StructField("n_docs", LongType), StructField("sum_dl", LongType),
    StructField("n_postings", LongType), StructField("n_terms", LongType),
    StructField("n_new_terms", LongType)))

  private def bucketOf(nBuckets: Int, c: Column = col("term")) =
    pmod(xxhash64(c), lit(nBuckets)).cast("int")

  private def toks(textCol: String): Column =
    TextAnalysis.tokens(lower(col(textCol)))

  private def writeMeta(spark: SparkSession, root: String,
      p: Params): Unit =
    ShardStore.writeMeta(spark, "bm25", metaPath(root), p)(
      lit(p.tokenizer).as("tokenizer"), lit(p.nBuckets).as("n_buckets"))

  /** The parameters this store was built with (memoized per root until
    * `meta/` is rewritten — [[ShardStore.cached]]). */
  def readMeta(spark: SparkSession, root: String): Params =
    ShardStore.readMeta(spark, "bm25", metaPath(root)) { r =>
      Params(r.getAs[String]("tokenizer"), r.getAs[Int]("n_buckets"))
    }

  private def postingsRaw(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(postingsSchema).parquet(postingsPath(root))

  private def termsRaw(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(termsSchema).parquet(termsPath(root))

  private def statsRaw(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(statsSchema).parquet(statsPath(root))

  /** Land one shard's postings + scalar row under its partitions
    * (dynamic overwrite — a crash replay rewrites identical rows over
    * any half-written attempt). The tokenized narrow projection
    * persists spillable across its two consumers (postings aggregate
    * + scalar aggregate) so each document is tokenized exactly once.
    *
    * The terms sidecar derives from the JUST-WRITTEN postings
    * partition: posting keys are exactly the shard's distinct
    * (id, term) pairs, so `distinct(term)` over the readback equals
    * the occurrence-explode + distinct it replaces while reading
    * posting-sized input instead of occurrence-sized at any scale (the
    * r16 experiment derived it from a PERSISTED posting aggregate and
    * measured worse — cache materialization cost; the readback variant
    * pays nothing, the files were being written anyway). `__bkt` rides
    * the partition directory straight through.
    *
    * Returns (posting rows, distinct terms), observed on the write
    * actions themselves (CollectMetrics accumulators on result-stage
    * tasks — exactly-once under retry), so [[addShard]]'s report needs
    * no separate count jobs over data it just wrote. */
  private def writeShard(docs: DataFrame, root: String, idCol: String,
      textCol: String, shardId: String, p: Params): (Long, Long) = {
    val spark = docs.sparkSession
    val td = docs
      .select(col(idCol).cast("long").as("id"), toks(textCol).as("__t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val obsPost = new org.apache.spark.sql.Observation()
      ShardStore.write(
        td.select(col("id"), size(col("__t")).cast("long").as("__dl"),
            explode(col("__t")).as("term"))
          .groupBy(col("id"), col("term"))
          .agg(count(lit(1)).as("tf"), max(col("__dl")).as("dl"))
          .observe(obsPost, count(lit(1)).as("n"))
          .withColumn("__bkt", bucketOf(p.nBuckets)),
        postingsPath(root), shardId, "__bkt")
      val obsTerms = new org.apache.spark.sql.Observation()
      ShardStore.write(
        postingsRaw(spark, root)
          .filter(col("ingest_shard") === lit(shardId))
          .select(col("term"), col("__bkt")).distinct()
          .observe(obsTerms, count(lit(1)).as("n")),
        termsPath(root), shardId, "__bkt")
      ShardStore.write(
        td.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(col("__t")).cast("long")), lit(0L))
            .as("sum_dl")),
        statsPath(root), shardId)
      (obsPost.get("n").asInstanceOf[Long],
        obsTerms.get("n").asInstanceOf[Long])
    } finally td.unpersist(false)
  }

  /** Build the store from the initial corpus (may be empty for a cold
    * start: the dirs land with schema only). */
  def build(docs: DataFrame, idCol: String, textCol: String,
      root: String, params: Params = Params()): Unit = {
    val spark = docs.sparkSession
    writeMeta(spark, root, params)
    writeShard(docs, root, idCol, textCol, "base", params)
    ()
  }

  /** The store's corpus scalars (one row: n_docs, sum_dl) — a
    * #shards-sized scan. */
  def currentStats(spark: SparkSession, root: String): DataFrame =
    statsRaw(spark, root)
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("sum_dl")), lit(0L)).as("sum_dl"))

  /** Ingest one corpus shard: tokenize with the store's own keying,
    * land its posting + scalar partitions, and return the one-row
    * vocabulary-growth report AGAINST PRIOR STATE (how much new
    * vocabulary did this crawl buy — the incremental counterpart of
    * [[TextAnalysis.vocabGrowth]]'s batch curve). Steps, each
    * idempotent under crash replay:
    *
    *  1. Postings + scalar row land write-first under the shard's
    *     partitions (dynamic overwrite). The in-flight shard is then
    *     excluded from the probe by partition pruning, so a replay
    *     probes identical pre-shard state.
    *  2. Vocabulary probe: seen = prior ∩ shard terms, answered
    *     entirely from the `terms/` sidecar — vocab-sized on BOTH
    *     sides; posting rows are never read. Within the gate the
    *     shard's distinct terms broadcast into a semi-join over the
    *     prior-terms scan; past it, sequential per-bucket broadcast
    *     legs, both sides partition-pruned, appended to a probe temp.
    *     Either way store rows never ride an exchange.
    *  3. The report (ingest_shard, n_docs, sum_dl, n_postings,
    *     n_terms, n_new_terms) WRITES THROUGH to `reportDir` (default
    *     `reports/<shardId>`) — the returned frame is a plain scan,
    *     zero executor-pinned blocks. */
  def addShard(spark: SparkSession, root: String, shard: DataFrame,
      idCol: String, textCol: String, shardId: String,
      maxBroadcastKeys: Long = MaxBroadcastKeys,
      reportDir: Option[String] = None): DataFrame = {
    val p = readMeta(spark, root)
    // shard-write observations replace the post-hoc nPostings count job
    // and (within the gate) the bucket-count collect — two fewer Spark
    // executions per ingest over data the write actions already touch
    val (nPostings, totalTerms) =
      graft.bench.StageTimers.time("bm25store.shard_write") {
        writeShard(shard, root, idCol, textCol, shardId, p)
      }
    val allTerms = termsRaw(spark, root)
    val shardTerms = allTerms
      .filter(col("ingest_shard") === lit(shardId))
      .select(col("term"), col("__bkt"))
    val prior = allTerms.filter(col("ingest_shard") =!= lit(shardId))
      .select(col("term"), col("__bkt"))
    val (seenCount, probeTmp) =
      if (totalTerms <= maxBroadcastKeys) {
        // gate path: the shard vocabulary broadcasts whole, straight off
        // the terms sidecar scan — no persist (single consumer), no
        // per-bucket counts needed
        (prior.select(col("term"))
          .join(broadcast(shardTerms.select(col("term"))), Seq("term"),
            "left_semi")
          .distinct().count(), None)
      } else {
        // jumbo path: per-bucket legs need the per-bucket key counts and
        // scan the shard vocabulary once per bucket — worth one persist
        val st = shardTerms
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val bucketCounts = st.groupBy(col("__bkt"))
            .agg(count(lit(1)).as("n"))
            .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sortBy(_._1)
          val tmp = s"$root/__probe_ingest"
          val fs = new org.apache.hadoop.fs.Path(tmp)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
          graft.bench.StageTimers.time("bm25store.probe_legs") {
            bucketCounts.foreach { case (b, nKeys) =>
              val keysB = st.filter(col("__bkt") === lit(b))
                .select(col("term"))
              val gated = if (nKeys <= maxBroadcastKeys) broadcast(keysB)
                else keysB // single over-gate bucket: 1/nBuckets shuffle
              prior.filter(col("__bkt") === lit(b)).select(col("term"))
                .join(gated, Seq("term"), "left_semi")
                .write.mode("append").parquet(tmp)
            }
          }
          (spark.read.schema(StructType(termsSchema.take(1)))
            .parquet(tmp).distinct().count(), Some(tmp))
        } finally st.unpersist(false)
      }
    val report = statsRaw(spark, root)
      .filter(col("ingest_shard") === lit(shardId))
      .select(col("ingest_shard"), col("n_docs"), col("sum_dl"),
        lit(nPostings).as("n_postings"),
        lit(totalTerms).as("n_terms"),
        lit(totalTerms - seenCount).as("n_new_terms"))
    val dir = reportDir.getOrElse(s"${reportsPath(root)}/$shardId")
    graft.bench.StageTimers.time("bm25store.report_write") {
      report.write.mode("overwrite").parquet(dir)
    }
    probeTmp.foreach { t =>
      new org.apache.hadoop.fs.Path(t)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(t), true)
    }
    spark.read.schema(reportSchema).parquet(dir)
  }

  /** BM25 top-k retrieval against CURRENT store state — pinned by spec
    * to [[TextAnalysis.bm25TopK]] over the union of everything
    * ingested, same output schema (qidCol, id, rank, score, n_terms),
    * same 6dp-rounded tie-broken ranking. The corpus leg: partition
    * pruning to the query vocabulary's buckets (the ≤|vocab|-ints
    * bucket list is the one driver-side collect), broadcast semi-join
    * on term, then df / scoring aggregates over the touched-sized
    * posting slice. No document text is read; the scalars ride the
    * #shards-sized `stats/` scan. The query side broadcasts under
    * `maxBroadcastKeys` ((query, term) rows — review batches by far);
    * a jumbo probe frame falls back to shuffle equi-joins, the ingest
    * report's gate discipline, result-identical by spec. */
  def topK(spark: SparkSession, root: String, queries: DataFrame,
      qidCol: String, qtextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      maxBroadcastKeys: Long = MaxBroadcastKeys): DataFrame = {
    require(k >= 1, "need k >= 1 results per query")
    require(k1 >= 0 && b >= 0 && b <= 1, "k1 >= 0, 0 <= b <= 1")
    val p = readMeta(spark, root)
    val qterms = queries.select(col(qidCol),
      explode(array_distinct(TextAnalysis.tokens(lower(col(qtextCol)))))
        .as("term"))
    // a review batch's (query, term) frame broadcasts; a JUMBO probe
    // frame (millions of decontamination queries) crosses the same
    // un-refusable-broadcast line as the ingest report's shard vocab,
    // so past the gate the query side rides plain equi-joins and the
    // posting slice shuffles on term — the honest jumbo shape (both
    // sides are probe-batch-scaled there; bucket pruning still holds)
    val nQTerms = qterms.count()
    def gate(df: DataFrame): DataFrame =
      if (nQTerms <= maxBroadcastKeys) broadcast(df) else df
    val qvocab = qterms.select(col("term")).distinct()
    val buckets = qvocab.select(bucketOf(p.nBuckets)).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (buckets.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          queries.schema(qidCol), StructField("id", LongType),
          StructField("rank", IntegerType),
          StructField("score", DoubleType),
          StructField("n_terms", LongType))))
    val posting = postingsRaw(spark, root)
      .filter(col("__bkt").isin(buckets.map(Integer.valueOf): _*))
      .join(gate(qvocab), Seq("term"), "left_semi")
      .select(col("term"), col("id"), col("tf"), col("dl"))
    val dfreq = posting.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    val stats = statsRaw(spark, root)
      .agg(coalesce(sum(col("n_docs")), lit(0L)).cast("double").as("__n"),
        (coalesce(sum(col("sum_dl")), lit(0L)).cast("double") /
          coalesce(sum(col("n_docs")), lit(0L)).cast("double"))
          .as("__avgdl"))
    val scored = posting
      .join(broadcast(dfreq), Seq("term"))
      .join(gate(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0))
      .withColumn("__contrib", col("__idf") * col("tf") /
        (col("tf") + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl") / col("__avgdl"))))
      .groupBy(col(qidCol), col("id"))
      .agg(round(sum(col("__contrib")), 6).as("score"),
        count(lit(1)).as("n_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col("id"), col("rank"), col("score"),
        col("n_terms"))
  }

  /** Fold posting shard partitions at or under `tierMaxBytes` into one
    * tier partition (size-tiered: the daily small-shard tail compacts
    * in shard-sized time, the accumulated base is untouched; default =
    * global rewrite). Under the id-uniqueness contract the fold is
    * pure concatenation; the (id, term) dedup exists ONLY for the
    * crash-leftover case where a prior attempt's tier survived
    * alongside not-yet-deleted sources. The `terms/` sidecar folds
    * under the SAME tier name and manifest; its rows are a membership
    * set, so a leftover source next to its tier only duplicates rows the
    * probes distinct away. `stats/` rows are deliberately NEVER
    * compacted: they are O(#shards-ever) scalar rows (a decade of daily
    * shards is ~3,650 rows), and folding additive scalars cannot be
    * made crash-exact without a commit protocol — a crash between a
    * folded row landing and its sources' deletion would double-count N
    * — while leaving them in place costs nothing. Crash protocol:
    * [[ShardStore]]. Returns (posting shards before, after). */
  def compactShards(spark: SparkSession, root: String,
      tierMaxBytes: Long = Long.MaxValue): (Int, Int) =
    ShardStore.compact(spark, tierMaxBytes,
      ShardStore.Table(postingsPath(root), postingsSchema,
        _.dropDuplicates("id", "term"), Seq("__bkt")),
      ShardStore.Table(termsPath(root), termsSchema,
        _.dropDuplicates("term"), Seq("__bkt")))
}
