package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference is batch-only (SURVEY.md
  * §2.12), so this is an extension: the same event analytics the batch
  * queries compute (windowed counts, sessionization), expressed as
  * incremental streaming plans so the engine also covers continuous
  * ingestion at scale.
  *
  * Design: event-time processing with watermarks (bounded state), windowed
  * aggregation via the built-in `window()` (state pruned by watermark), and
  * gap-based sessionization via `flatMapGroupsWithState` with event-time
  * timeouts (per-key state = one open session, O(users) state size).
  */
object EventStreams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(sessionStart: Long, lastEventMs: Long,
      nEvents: Long, totalValue: Double)

  final case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  /** Tumbling-window event counts + value sums per event_type, with a
    * watermark bounding aggregation state. Append-mode compatible: windows
    * finalize once the watermark passes their end. */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
      windowDur: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming exact dedup on the event id, state bounded by the watermark:
    * `dropDuplicatesWithinWatermark` keys its state by id and evicts entries
    * once the watermark passes their event time, so state is O(events per
    * watermark horizon) instead of O(all history). The trade (standard for
    * streaming dedup): a duplicate arriving later than the watermark delay
    * after the original is NOT caught — at-least-once sources with bounded
    * redelivery windows fit exactly this contract. This is the ingestion-
    * side guard in front of the batch dedup operators ([[graft.ops.Dedup]]):
    * cheap exact id-dedup on the stream, content-level near-dup offline. */
  def dedupStream(events: Dataset[Event], watermark: String = "10 minutes")(
      implicit spark: SparkSession): Dataset[Event] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
  }

  /** Gap-based sessionization with explicit per-user state: a session closes
    * when no event arrives within `gapMs` (enforced by event-time timeout,
    * so sessions also close on silence, not only on the next event). */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L)(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, new Timestamp(s.sessionStart),
              new Timestamp(s.lastEventMs), s.nEvents, s.totalValue))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastEventMs <= gapMs =>
                  cur = Some(s.copy(lastEventMs = t, nEvents = s.nEvents + 1,
                    totalValue = s.totalValue + e.value))
                case Some(s) =>
                  closed ::= SessionOut(userId, new Timestamp(s.sessionStart),
                    new Timestamp(s.lastEventMs), s.nEvents, s.totalValue)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // late-but-not-dropped events can put lastEventMs+gapMs at or
              // behind the current watermark, which Spark rejects with an
              // IllegalArgumentException — clamp to just past the watermark
              // (the session then times out on the next trigger, which is
              // the correct semantics for an already-stale session)
              val wm = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(math.max(s.lastEventMs + gapMs, wm + 1))
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-stream interval join: each purchase joins the errors of the
    * SAME user that occurred in the `windowSec` seconds before it. Both
    * sides carry watermarks and the join condition bounds event-time
    * distance, so Spark can expire join state — the unbounded-state trap
    * of naive stream-stream joins is structurally avoided. */
  def purchaseErrorJoin(events: DataFrame, watermark: String = "10 minutes",
      windowSec: Long = 3600L): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("err_user_id"),
        col("ts").as("error_ts"))
      .withWatermark("error_ts", watermark)
    purchases.join(errors,
      col("user_id") === col("err_user_id") &&
        col("error_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
        col("error_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("error_id"), col("error_ts"))
  }

  /** Streaming quality gate: the reference's batch quality phase
    * (extract -> checks -> gate) applied per micro-batch via foreachBatch.
    * Passing batches append to `goodPath`; failing batches quarantine to
    * `badPath` instead of poisoning the good table (streams can't "abort
    * the run" the way the batch gate does). Check execution inherits the
    * single-pass fused aggregates of [[graft.quality.DataQuality]]. */
  def qualityGatedParquetSink(df: DataFrame,
      cfg: graft.quality.DataQuality.QualityConfig,
      goodPath: String, badPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batch.isEmpty) ()
        else {
          val qr = graft.quality.DataQuality.runAllChecks(batch, cfg)
          val target = if (qr.overallPassed) goodPath else badPath
          batch.write.mode("append").parquet(target)
        }
      }
      .start()

  /** Classifier-gated streaming sink — the trained quality gate
    * ([[graft.ops.TextAnalysis.trainHashedLogReg]] ->
    * [[graft.ops.TextAnalysis.hashedLinearScore]]) applied at INGEST:
    * each micro-batch is scored map-only (the weights ride as broadcast
    * array literals, no shuffle of any kind) and rows route to the
    * accept/quarantine parquet sinks row-by-row — unlike
    * [[qualityGatedParquetSink]]'s batch-level verdict, a classifier
    * gates documents individually. Delivery is AT-LEAST-ONCE, not
    * idempotent: scoring is deterministic (a replayed batch routes every
    * row to the same side), but the two appends are independent writes —
    * a failure between them replays the whole batch and re-appends
    * already-written rows to goodPath (the standard foreachBatch
    * multi-sink caveat). Downstream exact-once consumers dedup on
    * `idCol`, or swap the appends for batchId-keyed overwrite partitions
    * (the [[ivfAppendSink]] shard-replay pattern). This closes the CCNet
    * loop end-to-end: train on the historical corpus, then gate the live
    * feed with the same weights. */
  def classifierGatedSink(docs: DataFrame, idCol: String, textCol: String,
      weights: Array[Double], bias: Double, threshold: Double,
      goodPath: String, badPath: String, checkpoint: String,
      useBigrams: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batch.isEmpty) ()
        else {
          // featurization MUST match training (a bigram-scored unigram
          // model silently degrades) — callers pass the trained model's
          // own useBigrams setting
          val scored = graft.ops.TextAnalysis.hashedLinearScore(
              batch, idCol, textCol, weights, bias, useBigrams)
            .persist()
          scored.filter(col("score") >= threshold)
            .drop("n_features", "label")
            .write.mode("append").parquet(goodPath)
          scored.filter(col("score") < threshold)
            .drop("n_features", "label")
            .write.mode("append").parquet(badPath)
          scored.unpersist()
          ()
        }
      }
      .start()

  /** Bloom-decontamination streaming sink — [[classifierGatedSink]]'s
    * decontamination twin: each micro-batch is screened MAP-ONLY against
    * a driver-built benchmark Bloom filter
    * ([[graft.ops.TextAnalysis.benchmarkBloom]] — the training-side
    * artifact that rides into the stream as plan state, exactly how the
    * classifier gate carries its weights; zero exchanges per batch) and
    * rows route clean / quarantine. The filter's error is one-sided, so
    * a contaminated document can never reach `cleanPath`; false
    * positives over-quarantine (size fpp per DOCUMENT — see
    * [[graft.ops.TextAnalysis.contaminationBloom]]). Delivery is the
    * same at-least-once two-append contract as the classifier gate. */
  def bloomScreenSink(docs: DataFrame, idCol: String, textCol: String,
      bloom: org.apache.spark.util.sketch.BloomFilter, n: Int,
      cleanPath: String, quarantinePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // no standalone empty-batch probe (the winnowScreenSink
        // rationale): a 0-row append writes no data file — and a
        // non-empty batch whose filter leaves one route empty already
        // produced exactly that shape — so the isEmpty guard job was
        // one pure-overhead Spark execution per micro-batch
        val screened = graft.ops.TextAnalysis
          .screenWithBloom(batch, textCol, bloom, n).persist()
        screened.filter(!col("maybe_contaminated"))
          .drop("maybe_contaminated", "n_shingles")
          .write.mode("append").parquet(cleanPath)
        screened.filter(col("maybe_contaminated"))
          .drop("maybe_contaminated", "n_shingles")
          .write.mode("append").parquet(quarantinePath)
        screened.unpersist()
        ()
      }
      .start()

  /** Streaming CDC upsert: merge each micro-batch into a keyed parquet
    * target via [[graft.sinks.Sinks.upsert]] — the streaming persistence
    * half of the changelog story (q49 compacts a LOG to latest state;
    * this keeps a TABLE at latest state as changes arrive). Each batch is
    * first compacted to one row per key (max_by over `orderCol`, so two
    * updates to one key inside a single micro-batch resolve
    * deterministically — highest `orderCol` wins), then merged against
    * the current target and the result swapped in through
    * [[graft.ops.DirSwap]] (`<target>__stage`, `<target>__old`), which
    * recovers a crashed swap at every batch: a death at any point loses
    * at most the in-flight batch (which the checkpoint replays), never
    * the accumulated table. Parquet has no transactional MERGE: the swap
    * is the single-writer pattern; a lakehouse table format would take
    * the same merged frame through its MERGE instead. */
  def upsertParquetSink(df: DataFrame, keyCols: Seq[String], orderCol: String,
      targetPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val cols = batch.columns.toSeq
          val compacted = batch
            .groupBy(keyCols.map(col): _*)
            .agg(max_by(struct(cols.map(col): _*), col(orderCol)).as("__last"))
            .select(cols.map(c => col(s"__last.$c").as(c)): _*)
          val swap = graft.ops.DirSwap(spark, targetPath)
          swap.recover()
          val merged =
            if (swap.fs.exists(swap.target))
              graft.sinks.Sinks.upsert(
                spark.read.parquet(targetPath), compacted, keyCols)
            else compacted
          // stage first: the merged plan READS targetPath, so overwriting
          // it in place would clobber the job's own input mid-write
          merged.write.mode("overwrite").parquet(swap.stage.toString)
          swap.commit()
        }
      }
      .start()

  /** Streaming CORPUS ingestion with incremental near-dup dedup: every
    * micro-batch of documents dedups against the persisted MinHash index
    * ([[graft.ops.IncrementalDedup.addShard]]) and appends itself to it.
    * The micro-batch id IS the shard id, which makes crash replay
    * exactly-once on index state for free: foreachBatch redelivers a
    * failed batch under the SAME batchId, addShard's dynamic partition
    * overwrite replaces exactly that shard's partition, and the probe
    * excludes the in-flight shard id so a half-written previous attempt
    * is invisible. Per-batch survivor reports land under `reportPath`
    * partitioned by batch_id with the same replay-idempotent overwrite;
    * when `retractionPath` is set, each batch also publishes its
    * touched-sized (id, old_cluster, new_cluster) retraction feed
    * ([[graft.ops.IncrementalDedup.retractionsForShard]]) for docs whose
    * already-published cluster this batch changed.
    * The index must exist — [[graft.ops.IncrementalDedup.buildIndex]] on
    * the historical corpus, or on an empty frame to start cold. */
  /** Streaming corpus-frequency monitoring: each micro-batch builds a
    * shard count-min sketch over its (lowercased, whitespace) tokens and
    * MERGES it into the persisted store ([[graft.ops.CountMin.ingest]] —
    * CMS addition commutes, so monitoring state advances by one tiny
    * read-merge-write per batch and history is never re-scanned; the
    * incremental-dedup-index argument applied to frequencies). A first
    * batch creates the store.
    *
    * Delivery is AT-LEAST-ONCE: a batch replayed after a crash between
    * the store swap and the checkpoint commit double-counts its
    * occurrences — CMS cannot subtract. Estimates therefore remain what
    * they already were: UPPER bounds (the sketch's one-sided error
    * direction), drifting high by at most the replayed batch. A pipeline
    * needing exact replay idempotence keys batches through
    * [[upsertParquetSink]]-style staging instead. */
  def cmsMonitorSink(docs: DataFrame, textCol: String, storePath: String,
      checkpoint: String, depth: Int = 4, width: Int = 1024)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // the empty-batch gate rides the sketch build's own job as an
        // observed metric instead of a standalone isEmpty probe (one
        // Spark execution per micro-batch saved): the CollectMetrics
        // node counts batch rows while the same action aggregates the
        // sketch cells. Semantics preserved exactly — a non-empty batch
        // that tokenizes to nothing still writes/creates the all-zero
        // store (the sentinel-row case CountMin.write documents), an
        // empty batch still touches nothing.
        val obs = new org.apache.spark.sql.Observation()
        val toks = batch.observe(obs, count(lit(1)).as("n"))
          .select(explode(
            graft.ops.TextAnalysis.tokens(lower(col(textCol)))).as("tok"))
        val shard = graft.ops.CountMin.build(toks, "tok", depth, width)
        if (obs.get("n").asInstanceOf[Long] > 0L) {
          val p = new org.apache.hadoop.fs.Path(storePath)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) graft.ops.CountMin.ingest(spark, storePath, shard)
          else graft.ops.CountMin.write(spark, shard, storePath)
        }
        ()
      }
      .start()

  def incrementalDedupSink(docs: DataFrame, idCol: String, textCol: String,
      indexRoot: String, reportPath: String, checkpoint: String,
      retractionPath: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          graft.ops.IncrementalDedup.addShard(spark, indexRoot,
              batch, idCol, textCol, s"stream_$batchId")
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(reportPath)
          // touched-sized retraction feed for docs EARLIER batches already
          // published whose cluster this batch changed: the operational
          // close of the append-only caveat. Same replay-idempotent
          // per-batch overwrite as the reports, so a redelivered batch
          // regenerates an identical feed (the addShard replay above has
          // restored identical index state first).
          retractionPath.foreach { rp =>
            graft.ops.IncrementalDedup.retractionsForShard(spark, indexRoot,
                s"stream_$batchId")
              .withColumn("batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id")
              .parquet(rp)
          }
        }
        ()
      }
      .start()

  /** Streaming corpus ingestion with incremental EXACT-SUBSTRING dedup
    * (the Lee et al. '22 keep-one member of the store-sink family,
    * completing it: [[incrementalDedupSink]] covers near-dup MinHash,
    * [[semDedupSink]] covers embedding SemDeDup): every micro-batch
    * ingests against the persisted window index
    * ([[graft.ops.ExactSubstrStore.addShard]]), lands its as-of dedup
    * report (id, n_tokens, n_removed, clean_text) under `reportPath`
    * partitioned by batch_id, and — when `retractionPath` is set —
    * publishes the displaced-canonical feed
    * ([[graft.ops.ExactSubstrStore.retractionsForShard]]) for spans
    * earlier batches already published whose canonical this batch
    * stole. Crash replay is exactly-once on index state for the same
    * reason as [[incrementalDedupSink]]: the batch id IS the shard id,
    * addShard's dynamic partition overwrite replaces exactly that
    * partition, and the probe excludes the in-flight shard. The index
    * must exist — [[graft.ops.ExactSubstrStore.buildIndex]] on the
    * historical corpus, or on an empty frame to start cold.
    *
    * COMPACTION PRECONDITION: only run [[graft.ops.ExactSubstrStore
    * .compactShards]] on `indexRoot` while this query is STOPPED and
    * its checkpoint has committed the last batch — compaction ends the
    * absorbed shards' replay window (their rows move out of the
    * per-batch partitions the replay overwrite targets), so compacting
    * a batch that is index-written but not yet checkpoint-committed
    * would double-count its windows on restart.
    *
    * The per-batch report is written ONCE, by addShard's write-through
    * into this sink's `reportPath/batch_id=N` partition dir — the
    * overwrite of exactly that dir is the same replay-idempotent
    * dynamic-partition semantics the explicit partitionBy write had. */
  def exactSubstrIngestSink(docs: DataFrame, idCol: String, textCol: String,
      indexRoot: String, reportPath: String, checkpoint: String,
      retractionPath: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          graft.ops.ExactSubstrStore.addShard(spark, indexRoot,
            batch, idCol, textCol, s"stream_$batchId",
            reportDir = Some(s"$reportPath/batch_id=$batchId"))
          retractionPath.foreach { rp =>
            graft.ops.ExactSubstrStore.retractionsForShard(spark, indexRoot,
                s"stream_$batchId")
              .withColumn("batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id")
              .parquet(rp)
          }
        }
        ()
      }
      .start()

  /** Streaming re-crawl ingestion with incremental CHUNK-level reuse
    * detection — the content-defined-chunking member of the store-sink
    * family ([[incrementalDedupSink]] = MinHash near-dup,
    * [[exactSubstrIngestSink]] = verbatim-span keep-one,
    * [[semDedupSink]] = embedding near-dup; this answers "which chunks
    * of the arriving crawl did ANY prior version already carry"):
    * every micro-batch chunks with the store's own parameters
    * ([[graft.ops.CdcStore.readMeta]] — the store owns its keying),
    * lands its as-of reuse report (id, n_chunks, n_reused, total_len,
    * reused_len, reused_frac — reuse vs PRIOR batches only) under
    * `reportPath` partitioned by batch_id, and folds its digests into
    * store state. Crash replay is exactly-once on store state for the
    * family's reason: the batch id IS the shard id, the shard's
    * digest partition overwrites dynamically, and the probe excludes
    * the in-flight shard by partition pruning. The store must exist —
    * [[graft.ops.CdcStore.build]] on the historical corpus, or on an
    * empty frame to start cold. The per-batch report is written ONCE,
    * by addShard's write-through into this sink's `batch_id=N`
    * partition dir.
    *
    * COMPACTION PRECONDITION: only run [[graft.ops.CdcStore
    * .compactShards]] on `storeRoot` while this query is STOPPED and
    * its checkpoint has committed the last batch — compaction moves
    * absorbed batches' digests out of the per-batch partitions the
    * replay overwrite targets (the [[exactSubstrIngestSink]]
    * precondition, same mechanism; here a violating replay would
    * re-add a duplicate digest partition rather than double-count —
    * membership semantics absorb it — but the replayed batch's REPORT
    * would see its own prior digests as "reused"). */
  def cdcIngestSink(docs: DataFrame, idCol: String, textCol: String,
      storeRoot: String, reportPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ops.CdcStore.addShard(batch.sparkSession, storeRoot,
            batch, idCol, textCol, s"stream_$batchId",
            reportDir = Some(s"$reportPath/batch_id=$batchId"))
        }
        ()
      }
      .start()

  /** Stream corpus shards into a persisted BM25 inverted-index store
    * ([[graft.ops.Bm25Store]]) — the retrieval member of the
    * store-sink family ([[incrementalDedupSink]] = MinHash dedup,
    * [[ivfAppendSink]] = vector index, [[cdcIngestSink]] = chunk
    * reuse; this keeps the lexical retrieval index current as the
    * corpus grows, so decontamination probes never re-tokenize the
    * corpus): every micro-batch lands as one store shard named by
    * batchId — postings + scalar partitions overwrite dynamically, so
    * foreachBatch's at-least-once redelivery replays into the SAME
    * partitions and store state stays exactly-once — and its one-row
    * vocabulary-growth report (reuse vs PRIOR batches only; the probe
    * excludes the in-flight shard by partition pruning) lands under
    * `reportPath` partitioned by batch_id, written ONCE via addShard's
    * write-through. The store must exist ([[graft.ops.Bm25Store
    * .build]] on the historical corpus, or on an empty frame to start
    * cold).
    *
    * COMPACTION PRECONDITION: only run [[graft.ops.Bm25Store
    * .compactShards]] on `storeRoot` while this query is STOPPED and
    * its checkpoint has committed the last batch — compaction moves
    * absorbed batches' postings out of the per-batch partitions the
    * replay overwrite targets, and unlike the digest stores a
    * violating replay here would land a DUPLICATE posting partition
    * next to the tier (double-counted df), not an absorbed no-op. */
  def bm25IngestSink(docs: DataFrame, idCol: String, textCol: String,
      storeRoot: String, reportPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ops.Bm25Store.addShard(batch.sparkSession, storeRoot,
            batch, idCol, textCol, s"stream_$batchId",
            reportDir = Some(s"$reportPath/batch_id=$batchId"))
        }
        ()
      }
      .start()

  /** Stream embedding shards into a persisted SemDeDup store
    * ([[graft.ops.SemDedupStore]]) — the semantic-dedup member of the
    * streaming-ingest family ([[incrementalDedupSink]] = MinHash text
    * dedup, [[ivfAppendSink]] = retrieval index, this = embedding
    * near-dup state): each micro-batch ingests as one store shard named
    * by batchId, so foreachBatch's at-least-once redelivery replays
    * into the SAME assignment/flag partitions (idempotent dynamic
    * overwrite) and store state stays exactly-once. The micro-batch
    * loop serializes writers — the store's single-writer contract falls
    * out for free. The store must exist ([[graft.ops.SemDedupStore
    * .buildStore]] on the historical corpus, or an empty frame to start
    * cold); centroids stay FROZEN across the stream, which is exactly
    * the store's equivalence contract: after any prefix of batches the
    * state equals batch semanticDedup over everything ingested so far —
    * including cross-batch retractions of previously-kept vectors,
    * which arrive as flag deltas in the newest batch's partition.
    * Run [[graft.ops.SemDedupStore.compactShards]] only while this
    * query is stopped with its checkpoint committed — compaction ends
    * the absorbed batches' replay window (the exactSubstrIngestSink
    * precondition, same mechanism). */
  def semDedupSink(vectors: DataFrame, idCol: String, vecCol: String,
      storeRoot: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ops.SemDedupStore.addShard(batch.sparkSession, storeRoot,
            batch, idCol, vecCol, s"stream_$batchId")
        }
        ()
      }
      .start()

  /** Streaming KN-perplexity screen — the LM-quality member of the
    * streaming screen family ([[bloomScreenSink]] routes on benchmark
    * membership, [[winnowScreenSink]] on shared fingerprints,
    * [[classifierGatedSink]] on a linear classifier; this routes on
    * language-model surprise — the CCNet gate at the stream seam).
    * Each micro-batch scores against a PRE-TRAINED
    * [[graft.ops.TextAnalysis.KnModel]] ([[graft.ops.TextAnalysis
    * .knTrain]] — build it ONCE outside the stream; its count tables
    * are type-bounded and persist across batches, the winnow screen's
    * precomputed-benchFps convention) and routes docs whose
    * 6dp-rounded mean NLL exceeds `maxNll` to `flaggedPath` (with
    * n_bigrams and the score as evidence), the rest to `cleanPath`.
    * Scoring is per-doc stateless, so stream output ≡ batch
    * [[graft.ops.TextAnalysis.knBigramNll]] + threshold over the union
    * of batches — the oracle contract. Exactly-once: both routes write
    * `batch_id`-partitioned with dynamic partition overwrite (the
    * family convention), so at-least-once redelivery rewrites its own
    * partition instead of duplicating rows. */
  def perplexityScreenSink(docs: DataFrame, idCol: String,
      textCol: String, model: graft.ops.TextAnalysis.KnModel,
      maxNll: Double, cleanPath: String, flaggedPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // no standalone empty-batch probe (the winnowScreenSink
        // rationale): a 0-row frame under dynamic partition overwrite
        // writes no partition directory and no data file, so the
        // isEmpty guard job bought nothing the writes don't already
        // guarantee — dropping it removes one Spark execution per batch
        val routed = batch.join(
          graft.ops.TextAnalysis.knScore(model, batch, idCol, textCol),
          Seq(idCol)).persist()
        routed.filter(col("kn_nll") > maxNll)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(flaggedPath)
        routed.filter(col("kn_nll") <= maxNll)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(cleanPath)
        routed.unpersist()
        ()
      }
      .start()

  /** Streaming winnow-decontamination screen — the span-evidence
    * member of the streaming screen family ([[bloomScreenSink]] routes
    * on a yes/no membership answer; this routes on shared winnow
    * fingerprints and APPENDS THE EVIDENCE): each micro-batch
    * fingerprints map-only, joins the broadcast pre-computed benchmark
    * fingerprint frame ([[graft.ops.Dedup.winnowFingerprints]] /
    * `...Portable` output — compute it ONCE outside the stream; the
    * bench side is small by contract), and routes flagged docs' match
    * rows (bench id, shared count, span extent) to `flaggedPath` and
    * everything else to `cleanPath`. Screening is per-doc stateless,
    * so stream output ≡ the batch [[graft.ops.Dedup.winnowContamination]]
    * over the union of batches — the oracle contract. `portable`
    * selects the md5 fingerprint family (oracle surface) over the
    * xxhash64 production family. Exactly-once: both routes write
    * `batch_id`-partitioned with dynamic partition overwrite (the
    * [[incrementalDedupSink]]/[[ivfAppendSink]] convention), so
    * foreachBatch's at-least-once redelivery regenerates the SAME
    * partition idempotently — a replayed batch overwrites its own
    * earlier rows instead of duplicating them on either path. Readers
    * drop the `batch_id` partition column for the logical answer. */
  def winnowScreenSink(docs: DataFrame, idCol: String, textCol: String,
      benchFps: DataFrame, k: Int, w: Int, minShared: Int,
      portable: Boolean, cleanPath: String, flaggedPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // no standalone empty-batch probe: isEmpty was one extra Spark
        // job per micro-batch (take-1 over the batch scan + a full
        // driver execution round-trip), paid on EVERY batch to guard a
        // case these writes already handle — a 0-row frame under
        // dynamic partition overwrite writes no partition directory and
        // no data file, so an empty batch leaves both routes' logical
        // state untouched (the empty-batch contract), for free
        val cfp =
          if (portable) graft.ops.Dedup.winnowFingerprintsPortable(
            batch, idCol, textCol, k, w)
          else graft.ops.Dedup.winnowFingerprints(
            batch, idCol, textCol, k, w)
        val hits = graft.ops.Dedup.contaminationFromFps(
          cfp, benchFps, idCol, "bench_id", minShared).persist()
        hits.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(flaggedPath)
        batch.select(col(idCol))
          .join(hits.select(col(idCol)).distinct(), Seq(idCol),
            "left_anti")
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(cleanPath)
        hits.unpersist()
        ()
      }
      .start()

  /** Stream vector embeddings into an appendable IVF index
    * ([[graft.ops.IVF.writeIndexAppendable]] root) — the retrieval-side
    * twin of [[incrementalDedupSink]]: each micro-batch becomes one
    * map-only `appendVectors` shard named by batchId, so foreachBatch's
    * at-least-once redelivery replays into the SAME partition leaves
    * (idempotent dynamic overwrite): once a batch's write completes,
    * the index state is exactly-once no matter how many times the batch
    * was delivered. The micro-batch loop serializes writers — the
    * appendable index's single-writer contract falls out for free, same
    * as the dedup sink. One isolation caveat (same as the dedup sink's
    * in-flight-shard note): a crash MID-append leaves a torn
    * `stream_N` shard (some centroid leaves written, some not) that a
    * CONCURRENT search would read until the batch replays on restart.
    * A reader that must not observe that window passes the in-flight
    * shard id to `searchBatchAppendable(excludeShards = ...)` — the
    * exclusion is a partition filter, so the torn leaves are never
    * scanned. The index must exist (build it on the historical corpus,
    * or on an empty assigned frame to start cold). */
  def ivfAppendSink(vectors: DataFrame, idCol: String, vecCol: String,
      indexRoot: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ops.IVF.appendVectors(batch.sparkSession, indexRoot,
            batch, idCol, vecCol, s"stream_$batchId")
        }
        ()
      }
      .start()

  final case class TimedDoc(ts: Timestamp, text: String)
  final case class TrendOut(window_start: Timestamp, token: String,
      est: Long, max_err: Long, rank: Int)

  /** Windowed trending tokens with SKETCH state — per tumbling
    * event-time window, the top-k tokens by (bounded-error) frequency,
    * emitted once when the watermark closes the window. The state per
    * window is one [[graft.functions.MisraGries]] sketch: O(capacity),
    * NOT O(vocabulary) — the property that makes per-window token
    * ranking viable on an open-ended token domain (hashtags, URLs,
    * query strings), where the built-in windowed `groupBy(token)`
    * aggregation would hold every distinct token in state until the
    * watermark. Same est/max_err bounds as the batch sketch
    * ([[graft.ops.TextAnalysis.frequentTokens]]): exact when capacity
    * covers the window's distinct tokens.
    *
    * Mechanics: `flatMapGroupsWithState` keyed by window start,
    * event-time timeout at window end — rows fold into the sketch as
    * batches arrive, nothing is emitted until the watermark passes the
    * window (append-mode-clean finalized rows, the [[sessionize]]
    * timeout pattern). Tokenization matches the batch `tokens()`
    * contract (trim, lowercase, split on whitespace). */
  def trendingTokens(docs: Dataset[TimedDoc], capacity: Int, k: Int,
      windowMs: Long = 3600000L, watermark: String = "10 minutes")(
      implicit spark: SparkSession): Dataset[TrendOut] = {
    import spark.implicits._
    require(windowMs > 0 && k >= 1 && k <= capacity)
    val mg = new graft.functions.MisraGries(capacity)
    implicit val stateEnc: org.apache.spark.sql.Encoder[
      graft.functions.MisraGries.State] =
      org.apache.spark.sql.Encoders.kryo
    docs
      .withWatermark("ts", watermark)
      .groupByKey(d => math.floorDiv(d.ts.getTime, windowMs) * windowMs)
      .flatMapGroupsWithState[graft.functions.MisraGries.State, TrendOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (winStart: Long, rows: Iterator[TimedDoc],
         state: GroupState[graft.functions.MisraGries.State]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            val (counts, dec) = mg.finish(state.get)
            state.remove()
            counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(k)
              .zipWithIndex.map { case ((t, c), i) =>
                TrendOut(new Timestamp(winStart), t, c, dec, i + 1)
              }.iterator
          } else {
            var s = state.getOption.getOrElse(mg.zero)
            rows.foreach { d =>
              val txt = if (d.text == null) "" else d.text
              txt.trim.toLowerCase.split("\\s+").iterator
                .filter(_.nonEmpty).foreach { w => s = mg.reduce(s, w) }
            }
            state.update(s)
            // rows passing the watermark filter have ts >= watermark, so
            // the window end is strictly ahead of it — no clamp needed
            state.setTimeoutTimestamp(winStart + windowMs)
            Iterator.empty
          }
      }
  }

  /** Run `body` (which must START the streaming query inside it) with
    * `spark.sql.shuffle.partitions` temporarily set to `n`, restoring
    * the session value afterwards.
    *
    * Why this exists: a stateful streaming query captures its STATE
    * partition count from this conf at query start and keeps it for the
    * query's lifetime. Every state partition pays per-micro-batch fixed
    * cost — a store commit (delta file + fsync in the checkpoint) per
    * partition per store instance, and a stream-stream join runs FOUR
    * store instances per side — so state partitions must be sized to
    * the stream's volume, not inherited from the batch session's
    * parallelism. Measured on the x147 interval-join fixture (sf0.1,
    * quiet host, median-of-3): 32 inherited partitions = 11.66s, state
    * right-sized to 8 = 5.55s — the delta is pure per-partition commit
    * overhead, the output rows are identical (state partitioning is
    * invisible to semantics). At production volume the same knob goes
    * UP: size it so each state partition's working set fits an
    * executor's store budget. */
  def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  /** Streaming sink helper: append to a parquet path with a checkpoint —
    * the streaming analogue of Sinks.writePartitioned. */
  def startParquetSink(df: DataFrame, path: String, checkpoint: String,
      partitionCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery = {
    var w = df.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
    w.start()
  }
}
