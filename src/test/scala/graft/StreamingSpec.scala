package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import org.apache.spark.sql.functions.col

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowedCounts aggregates tumbling event-time windows incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.windowedCounts(input.toDF(), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:05:00"), 1, "click", 2.0),
        Event(2, ts("2024-01-01 10:45:00"), 2, "click", 3.0),
        Event(3, ts("2024-01-01 11:05:00"), 1, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select("window_start", "event_type", "n_events", "total_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows.contains((ts("2024-01-01 10:00:00"), "click", 2L, 5.0)))
      assert(rows.contains((ts("2024-01-01 11:00:00"), "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("per-row corpus ops (PII scrub, boilerplate filters) run unchanged on a stream") {
    // the text-prep surface is shuffle-free per-row work, so the SAME
    // operators compose into Structured Streaming with no code changes —
    // the batch/stream unification a streaming ingest pipeline relies on
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.scrubPii(
      graft.ops.TextAnalysis.boilerplateFilters(docs))
      .select("doc_id", "keep", "scrubbed")
    val q = out.writeStream.format("memory").queryName("textops")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, "write to me at jane@example.com about the quarterly report."),
        (2L, "function() { short code }"))
      q.processAllAvailable()
      val rows = spark.table("textops")
        .as[(Long, Boolean, String)].collect()
        .map { case (id, k, s) => id -> ((k, s)) }.toMap
      assert(rows(1L)._1 && rows(1L)._2.contains("[EMAIL]"))
      assert(!rows(2L)._1) // curly-brace boilerplate flagged mid-stream
    } finally q.stop()
  }

  test("hashedLinearScore gates a document stream (model as literal, no state)") {
    // classifier inference is ONE map-only expression (weights ride as a
    // literal), so the same quality gate runs on a stream with no state
    // store, no watermark, and per-row results identical to batch
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val w = (0 until 64).map(i => ((i * 37 + 11) % 21 - 10) / 10.0).toArray
    val out = graft.ops.TextAnalysis
      .hashedLinearScore(docs, "doc_id", "text", w, bias = -0.25)
      .select("doc_id", "score", "label")
    val q = out.writeStream.format("memory").queryName("clfgate")
      .outputMode(OutputMode.Append()).start()
    val fixtures = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "lorem ipsum dolor sit amet"),
      (3L, ""))
    try {
      input.addData(fixtures: _*)
      q.processAllAvailable()
      val streamed = spark.table("clfgate")
        .as[(Long, Double, Boolean)].collect().toSet
      val batch = graft.ops.TextAnalysis.hashedLinearScore(
          fixtures.toDF("doc_id", "text"), "doc_id", "text", w, bias = -0.25)
        .select("doc_id", "score", "label")
        .as[(Long, Double, Boolean)].collect().toSet
      assert(streamed == batch, (streamed, batch))
    } finally q.stop()
  }

  test("classifierGatedSink: TRAINED gate routes a stream identically to batch") {
    // the full CCNet loop across the batch/stream seam: train on a
    // historical corpus (batch), gate the live feed (stream) with the
    // trained weights, and the routing must equal batch classification
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val hist = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id",
        concat(concat_ws(" ", slice(graft.ops.TextAnalysis.tokens($"text"),
            1, 12)),
          when($"doc_id" % 2 === 0, lit(" qpos qpos qpos qpos"))
            .otherwise(lit(" qneg qneg qneg qneg"))).as("text"),
        ($"doc_id" % 2 === 0).cast("int").as("y"))
    val m = graft.ops.TextAnalysis.trainHashedLogReg(hist, "text", "y",
      buckets = 64, epochs = 5, lr = 0.5, useBigrams = false)
    // NOTE: inference runs with bigram features off to match training
    val root = java.nio.file.Files.createTempDirectory("clf_sink").toString
    val input = MemoryStream[(Long, String)]
    val feed = hist.select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    val q = EventStreams.classifierGatedSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      m.weights, m.bias, threshold = 0.5,
      s"$root/good", s"$root/bad", s"$root/ckpt", useBigrams = false)
    try {
      input.addData(feed.take(20): _*)
      q.processAllAvailable()
      input.addData(feed.drop(20): _*)
      q.processAllAvailable()
      def ids(p: String) = spark.read.parquet(p)
        .select("doc_id").as[Long].collect().toSet
      val batch = graft.ops.TextAnalysis.hashedLinearScore(
          hist.select($"doc_id", $"text"), "doc_id", "text",
          m.weights, bias = m.bias, useBigrams = false)
      val batchGood = batch.filter($"score" >= 0.5)
        .select("doc_id").as[Long].collect().toSet
      val batchBad = batch.filter($"score" < 0.5)
        .select("doc_id").as[Long].collect().toSet
      assert(ids(s"$root/good") == batchGood)
      assert(ids(s"$root/bad") == batchBad)
      // the gate actually separates: planted classes land on opposite sides
      assert(batchGood.forall(_ % 2 == 0) && batchBad.forall(_ % 2 == 1))
    } finally q.stop()
  }

  test("stream-stream interval join pairs purchases with same-user errors in the window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val joined = EventStreams.purchaseErrorJoin(input.toDF(), "10 minutes", 3600L)
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "error", 0.0),
        Event(2, ts("2024-01-01 10:30:00"), 1, "purchase", 9.0), // error 30min before -> match
        Event(3, ts("2024-01-01 08:00:00"), 2, "error", 0.0),
        Event(4, ts("2024-01-01 10:30:00"), 2, "purchase", 9.0), // error 2.5h before -> no match
        Event(5, ts("2024-01-01 10:29:00"), 3, "purchase", 9.0)) // other user's error -> no match
      q.processAllAvailable()
      val rows = spark.table("ssj")
        .select("purchase_id", "error_id").as[(Long, Long)].collect().toSet
      assert(rows == Set((2L, 1L)))
    } finally q.stop()
  }

  test("bloomScreenSink: streamed decontamination routes identically to batch, never leaks") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val bench = docs.filter($"doc_id" % 10 === 1).select($"text")
    val bloom = graft.ops.TextAnalysis.benchmarkBloom(bench, "text")
    val root = java.nio.file.Files.createTempDirectory("bloom_sink").toString
    val input = MemoryStream[(Long, String)]
    val feed = docs.as[(Long, String)].collect().toSeq
    val q = EventStreams.bloomScreenSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", bloom, 3,
      s"$root/clean", s"$root/quarantine", s"$root/ckpt")
    try {
      input.addData(feed.take(30): _*)
      q.processAllAvailable()
      input.addData(feed.drop(30): _*)
      q.processAllAvailable()
      def ids(p: String) = spark.read.parquet(p)
        .select("doc_id").as[Long].collect().toSet
      val batch = graft.ops.TextAnalysis.contaminationBloom(
        docs, bench, "doc_id", "text")
      val batchClean = batch.filter(!$"maybe_contaminated")
        .select("doc_id").as[Long].collect().toSet
      val batchQuar = batch.filter($"maybe_contaminated")
        .select("doc_id").as[Long].collect().toSet
      assert(ids(s"$root/clean") == batchClean)
      assert(ids(s"$root/quarantine") == batchQuar)
      // one-sided error across the seam: every EXACTLY-contaminated doc
      // is quarantined — nothing contaminated ever lands in clean
      val exactHit = graft.ops.TextAnalysis.contamination(
          docs, bench, "doc_id", "text")
        .filter($"n_hits" > 0).select("doc_id").as[Long].collect().toSet
      assert((exactHit & ids(s"$root/clean")).isEmpty)
      assert(exactHit.nonEmpty)
    } finally q.stop()
  }

  test("winnowScreenSink: streamed span screening equals batch, routes disjoint") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val bench = docs.filter($"doc_id" < 10)
      .select($"doc_id".as("bench_id"), substring($"text", 40, 120).as("text"))
    val benchFps = graft.ops.Dedup.winnowFingerprintsPortable(
      bench, "bench_id", "text", k = 16, w = 4).persist()
    benchFps.count()
    val root = java.nio.file.Files.createTempDirectory("winnow_sink").toString
    val input = MemoryStream[(Long, String)]
    val feed = docs.as[(Long, String)].collect().toSeq
    val q = EventStreams.winnowScreenSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", benchFps,
      k = 16, w = 4, minShared = 3, portable = true,
      s"$root/clean", s"$root/flagged", s"$root/ckpt")
    try {
      input.addData(feed.take(40): _*)
      q.processAllAvailable()
      input.addData(feed.drop(40): _*)
      q.processAllAvailable()
      val streamed = spark.read.parquet(s"$root/flagged")
        .select("doc_id", "bench_id", "shared", "span_start", "span_end")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getInt(4))).toSet
      val batch = graft.ops.Dedup.winnowContaminationPortable(
          docs, "doc_id", "text", bench, "bench_id", "text",
          k = 16, w = 4, minShared = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getInt(4))).toSet
      assert(streamed === batch) // stateless screen: stream == batch
      assert(streamed.nonEmpty)
      // routing partitions the corpus: clean ∪ flagged-ids = all, disjoint
      val cleanIds = spark.read.parquet(s"$root/clean")
        .select("doc_id").as[Long].collect().toSet
      val flaggedIds = streamed.map(_._1)
      assert((cleanIds & flaggedIds).isEmpty)
      assert((cleanIds | flaggedIds) === feed.map(_._1).toSet)
    } finally { q.stop(); benchFps.unpersist() }
  }

  test("perplexityScreenSink: streamed LM screening equals batch, routes disjoint") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    // every 7th doc replaced by OOV garbage at the continuation floor
    val docs = base.select($"doc_id",
      when($"doc_id" % 7 === 0, lit("zzqa zzqb zzqc zzqd zzqe zzqf"))
        .otherwise($"text").as("text"))
    val model = graft.ops.TextAnalysis.knTrain(base, "text")
    val root = java.nio.file.Files.createTempDirectory("ppl_sink").toString
    val input = MemoryStream[(Long, String)]
    val feed = docs.as[(Long, String)].collect().toSeq
    val q = EventStreams.perplexityScreenSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", model,
      maxNll = 5.0, s"$root/clean", s"$root/flagged", s"$root/ckpt")
    try {
      input.addData(feed.take(200): _*)
      q.processAllAvailable()
      input.addData(feed.drop(200): _*)
      q.processAllAvailable()
      val streamed = spark.read.parquet(s"$root/flagged")
        .select("doc_id", "n_bigrams", "kn_nll")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val batch = graft.ops.TextAnalysis
        .knBigramNll(base, docs, "doc_id", "text")
        .filter($"kn_nll" > 5.0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(streamed === batch) // stateless screen: stream == batch
      // every planted garbage doc is flagged
      val planted = feed.map(_._1).filter(_ % 7 == 0).toSet
      assert(planted.subsetOf(streamed.map(_._1)))
      // routing partitions the corpus: clean ∪ flagged = all, disjoint
      val cleanIds = spark.read.parquet(s"$root/clean")
        .select("doc_id").as[Long].collect().toSet
      val flaggedIds = streamed.map(_._1)
      assert((cleanIds & flaggedIds).isEmpty)
      assert((cleanIds | flaggedIds) === feed.map(_._1).toSet)
      // the clean side carries the scores too (evidence columns on both
      // routes, the screen family convention)
      assert(spark.read.parquet(s"$root/clean").columns.toSet
        .contains("kn_nll"))
    } finally { q.stop(); model.unpersist() }
  }

  test("qualityGatedParquetSink routes passing batches to good, failing to quarantine") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_qgate").toString
    val cfg = graft.quality.DataQuality.QualityConfig(
      tableName = "events", requiredColumns = Seq("event_type"),
      keyColumns = Seq("event_id"), rangeChecks = Map("value" -> ((0.0, 100.0))))
    val input = MemoryStream[Event]
    val q = EventStreams.qualityGatedParquetSink(input.toDF(), cfg,
      s"$dir/good", s"$dir/bad", s"$dir/ckpt")
    try {
      input.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 5.0))
      q.processAllAvailable()
      input.addData(Event(2, ts("2024-01-01 10:01:00"), 1, "click", 500.0)) // out of range
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/good").count() == 1)
      assert(spark.read.parquet(s"$dir/bad").count() == 1)
    } finally q.stop()
  }

  test("upsertParquetSink keeps the target at latest state per key across batches") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_upsink").toString
    val input = MemoryStream[(Long, String, Long)]
    val q = EventStreams.upsertParquetSink(
      input.toDF().toDF("key", "payload", "ver"),
      keyCols = Seq("key"), orderCol = "ver",
      targetPath = s"$dir/state", checkpoint = s"$dir/ckpt")
    try {
      // batch 1 carries TWO versions of key 1 — in-batch compaction must
      // resolve to ver 2 before the merge
      input.addData((1L, "a", 1L), (2L, "b", 1L), (1L, "c", 2L))
      q.processAllAvailable()
      val after1 = spark.read.parquet(s"$dir/state")
        .as[(Long, String, Long)].collect().toSet
      assert(after1 == Set((1L, "c", 2L), (2L, "b", 1L)))
      // batch 2 updates key 2 and inserts key 3; key 1 must carry through
      input.addData((2L, "d", 3L), (3L, "e", 1L))
      q.processAllAvailable()
      val after2 = spark.read.parquet(s"$dir/state")
        .as[(Long, String, Long)].collect().toSet
      assert(after2 == Set((1L, "c", 2L), (2L, "d", 3L), (3L, "e", 1L)))
    } finally q.stop()
  }

  test("upsert-sink crash recovery restores the retired generation, drops leftovers") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_uprec").toString
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val state = Seq((1L, "a")).toDF("key", "payload")
    // crash between retire and promote: only __old holds the state
    state.write.parquet(s"$dir/t__old")
    state.limit(0).write.parquet(s"$dir/t__stage") // partial stage leftover
    graft.ops.DirSwap(spark, s"$dir/t").recover()
    assert(spark.read.parquet(s"$dir/t").count() == 1, "state must be restored")
    assert(!fs.exists(p(s"$dir/t__old")) && !fs.exists(p(s"$dir/t__stage")))
    // crash after promote, before dropping the retiree: __old is superseded
    state.write.parquet(s"$dir/u__old")
    state.union(state).write.parquet(s"$dir/u")
    graft.ops.DirSwap(spark, s"$dir/u").recover()
    assert(spark.read.parquet(s"$dir/u").count() == 2, "newer generation wins")
    assert(!fs.exists(p(s"$dir/u__old")))
  }

  test("dedupStream drops duplicate event ids within the watermark horizon") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.dedupStream(input.toDS(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0), // same-batch dup
        Event(2, ts("2024-01-01 10:01:00"), 1, "view", 2.0))
      q.processAllAvailable()
      // cross-batch duplicate of id 1, still inside the watermark horizon
      input.addData(Event(1, ts("2024-01-01 10:02:00"), 1, "click", 1.0),
        Event(3, ts("2024-01-01 10:03:00"), 2, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream")
        .select("event_id").as[Long].collect().toSeq.sorted
      assert(ids == Seq(1L, 2L, 3L), ids.toString)
    } finally q.stop()
  }

  test("sessionize survives late events: dropped at the watermark, no crash") {
    // Events behind the watermark are filtered before the state function
    // (EventTimeTimeout path), so a stale session closes by timeout with its
    // pre-late contents; the timeout clamp in sessionize guards the
    // equality boundary (timeout == watermark) so the query never dies with
    // Spark's "timeout cannot be earlier than watermark" error.
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sess_late")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: user 7 opens a session at 10:00; user 8 at 20:00 drives the
      // watermark to 19:50 for the NEXT batch
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
        Event(2, ts("2024-01-01 20:00:00"), 8, "click", 1.0))
      q.processAllAvailable()
      // batch 2: late event for user 7, far behind the 19:50 watermark --
      // must be dropped (not merged, not crashing the query)
      input.addData(Event(3, ts("2024-01-01 10:20:00"), 7, "click", 2.0))
      q.processAllAvailable()
      // batch 3: advance the watermark so the clamped session times out
      input.addData(Event(4, ts("2024-01-01 23:00:00"), 9, "click", 1.0))
      q.processAllAvailable()
      val sessions = spark.table("sess_late")
        .select("user_id", "n_events", "total_value")
        .as[(Long, Long, Double)].collect().toSet
      // user 7's session holds only the on-time event; the late one was
      // dropped at the watermark and the query stayed alive
      assert(sessions.contains((7L, 1L, 1.0)), sessions.toString)
      assert(!sessions.exists(s => s._1 == 7L && s._2 == 2L), sessions.toString)
    } finally q.stop()
  }

  test("trendingTokens: window closes at watermark with exact top-k, open window emits nothing") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.TimedDoc]
    val q = EventStreams.trendingTokens(input.toDS(), capacity = 16, k = 2)
      .writeStream.format("memory").queryName("trend")
      .outputMode(OutputMode.Append()).start()
    try {
      // window [10:00, 11:00): a:3 b:2 c:1 across two docs
      input.addData(
        EventStreams.TimedDoc(ts("2024-01-01 10:05:00"), "a b a"),
        EventStreams.TimedDoc(ts("2024-01-01 10:40:00"), "b a c"))
      q.processAllAvailable()
      assert(spark.table("trend").count() == 0) // window still open
      // an 11:30 doc drives the watermark past 11:00 on the next batch,
      // closing the first window; its own window stays open
      input.addData(EventStreams.TimedDoc(ts("2024-01-01 11:30:00"), "z z y"))
      q.processAllAvailable()
      input.addData(EventStreams.TimedDoc(ts("2024-01-01 13:00:00"), "w"))
      q.processAllAvailable()
      val rows = spark.table("trend")
        .select("window_start", "token", "est", "max_err", "rank")
        .as[(Timestamp, String, Long, Long, Int)].collect().toSet
      // capacity 16 > 3 distinct -> exact, deterministic: a then b
      // (the 11:00 window may or may not have closed via a no-data
      // batch, depending on trigger scheduling; assert only on the
      // deterministically-closed first window and the still-open last)
      assert(rows.filter(_._1 == ts("2024-01-01 10:00:00")) == Set(
        (ts("2024-01-01 10:00:00"), "a", 3L, 0L, 1),
        (ts("2024-01-01 10:00:00"), "b", 2L, 0L, 2)), rows)
      assert(!rows.exists(_._1 == ts("2024-01-01 13:00:00")), rows)
    } finally q.stop()
  }

  test("ivfAppendSink: streamed shards build the same searchable index as the batch path") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 4 === 0)
    val model = graft.ops.IVF.train(base, "vec_id", "embedding",
      nc = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ivf_stream")
      .toString + "/idx"
    graft.ops.IVF.writeIndexAppendable(
      graft.ops.IVF.assign(base, "embedding", model), root, model, "base")
    val input = MemoryStream[(Long, Seq[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("ivf_ckpt").toString
    val q = EventStreams.ivfAppendSink(
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      root, ckpt)
    try {
      val rest = emb.filter(col("vec_id") % 4 =!= 0)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect()
      rest.grouped(math.max(1, rest.length / 3 + 1)).foreach { g =>
        input.addData(g.toSeq: _*); q.processAllAvailable()
      }
      val queries = emb.filter(col("vec_id").isin(1L, 6L))
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val via = graft.ops.IVF.searchBatchAppendable(spark, root, queries,
          "vec_id", "embedding", "query_id", k = 8, nprobe = 3)
        .as[(Long, Long, Double)].collect().toSet
      val ref = graft.ops.IVF.searchBatch(
          graft.ops.IVF.assign(emb, "embedding", model), queries,
          "vec_id", "embedding", "query_id", model, k = 8, nprobe = 3)
        .as[(Long, Long, Double)].collect().toSet
      assert(via == ref, "streamed index must equal the batch-built one")
    } finally q.stop()
  }

  test("sessionize closes a session on gap and keeps one open session per user") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 10:10:00"), 1, "click", 2.0),
        // > 30 min gap -> closes first session on arrival
        Event(3, ts("2024-01-01 11:00:00"), 1, "view", 3.0))
      q.processAllAvailable()
      // advance watermark far enough to time out the open session
      input.addData(Event(9, ts("2024-01-01 13:00:00"), 2, "click", 0.5))
      q.processAllAvailable()
      input.addData(Event(10, ts("2024-01-01 15:00:00"), 2, "click", 0.5))
      q.processAllAvailable()
      val sessions = spark.table("sess")
        .select("user_id", "n_events", "total_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(sessions.contains((1L, 2L, 3.0))) // first session: events 1+2
      assert(sessions.contains((1L, 1L, 3.0))) // second session closed by timeout
    } finally q.stop()
  }

  test("incrementalDedupSink: streamed batches build the same index state as one full dedup") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_incsink").toString
    val p = graft.ops.IncrementalDedup.Params(shingleW = 3, k = 64,
      bands = 32, threshold = 0.45, maxBucket = 256)
    // cold start: index built from an EMPTY corpus (valid initial state)
    graft.ops.IncrementalDedup.buildIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx", p, "init")
    def doc(i: Long): String = (0 until 25).map(t => s"d${i}w$t").mkString(" ")
    def prefix(i: Long, keep: Int): String =
      doc(i).split(" ").take(keep).mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.incrementalDedupSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/idx", s"$dir/reports", s"$dir/ckpt")
    try {
      // batch 1: three originals + a near-dup of doc 0 (22/25 tokens)
      input.addData((0L, doc(0)), (1L, doc(1)), (2L, doc(2)),
        (100L, prefix(0, 22)))
      q.processAllAvailable()
      // batch 2: a near-dup of doc 1 and a fresh doc
      input.addData((200L, prefix(1, 22)), (3L, doc(3)))
      q.processAllAvailable()
      val dropped = graft.ops.IncrementalDedup.droppedIds(spark, s"$dir/idx")
        .as[Long].collect().toSet
      assert(dropped == Set(100L, 200L))
      // same state as ONE full dedup over everything streamed
      val union = Seq((0L, doc(0)), (1L, doc(1)), (2L, doc(2)),
        (100L, prefix(0, 22)), (200L, prefix(1, 22)), (3L, doc(3)))
        .toDF("doc_id", "text")
      val fullDropped = graft.ops.Dedup.resolveClusters(
        graft.ops.Dedup.minhashLshPairs(union, "doc_id", "text",
          shingleW = p.shingleW, k = p.k, bands = p.bands,
          threshold = p.threshold, maxBucketSize = p.maxBucket)
          .select($"id_a", $"id_b"))
        .filter($"id" =!= $"cluster_id").select($"id")
        .as[Long].collect().toSet
      assert(dropped == fullDropped)
      // per-batch survivor reports landed, partitioned by batch_id
      val reports = spark.read.parquet(s"$dir/reports")
      assert(reports.select("batch_id").distinct().count() == 2)
      assert(reports.filter($"id" === 100L).head().getAs[Boolean]("survived") == false)
      assert(reports.filter($"id" === 3L).head().getAs[Boolean]("survived") == true)
    } finally q.stop()
  }

  test("exactSubstrIngestSink: streamed batches equal batch dedup over the union; retraction feed on canonical steal") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_exsubsink").toString
    val p = graft.ops.ExactSubstrStore.Params(minLen = 5)
    // cold start: window index over an EMPTY corpus
    graft.ops.ExactSubstrStore.buildIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx", p)
    def doc(i: Long): String = (0 until 12).map(t => s"d${i}w$t").mkString(" ")
    def prefix(i: Long, keep: Int): String =
      doc(i).split(" ").take(keep).mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.exactSubstrIngestSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/idx", s"$dir/reports", s"$dir/ckpt",
      retractionPath = Some(s"$dir/retractions"))
    try {
      // batch 1: two originals + a larger-id 8-token clone of doc 10
      // (loses its copy at ingest; no retraction — canonical stays)
      input.addData((10L, doc(10)), (11L, doc(11)), (100L, prefix(10, 8)))
      q.processAllAvailable()
      // batch 2: a SMALLER-id verbatim clone of doc 11 — steals the
      // canonical, so batch 2's report keeps id 5 whole and the
      // retraction feed names doc 11's displaced window positions
      input.addData((5L, doc(11)))
      q.processAllAvailable()
      val reports = spark.read.parquet(s"$dir/reports")
      assert(reports.select("batch_id").distinct().count() == 2)
      assert(reports.filter($"id" === 100L).head().getAs[Long]("n_removed") == 8L)
      assert(reports.filter($"id" === 5L).head().getAs[Long]("n_removed") == 0L)
      // retractions: batch 1 none; batch 2 names (11, pos 0..7)
      val retr = spark.read.parquet(s"$dir/retractions")
      assert(retr.filter($"batch_id" === 0L).count() == 0)
      assert(retr.filter($"batch_id" === 1L).select("id", "pos")
        .as[(Long, Int)].collect().sortBy(_._2).toSeq ==
        (0 until 8).map(pp => (11L, pp)))
      // final store state ≡ one batch run over everything streamed
      val union = Seq((10L, doc(10)), (11L, doc(11)), (100L, prefix(10, 8)),
        (5L, doc(11))).toDF("doc_id", "text")
      val fromStore = graft.ops.ExactSubstrStore.dedupWithIndex(spark,
          s"$dir/idx", union, "doc_id", "text")
        .select($"id", $"n_removed", $"clean_text")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      val fromBatch = graft.ops.Dedup.exactSubstrDedup(union,
          "doc_id", "text", minLen = 5)
        .select($"id", $"n_removed", $"clean_text")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      assert(fromStore == fromBatch)
      // keep-one across the stream: doc 11 lost its span to the batch-2
      // steal, id 5 holds the canonical copy
      assert(fromStore.find(_._1 == 11L).get._2 == 12L)
    } finally q.stop()
  }

  test("incrementalDedupSink publishes per-batch retraction feeds for merged clusters") {
    // batch 1 publishes cluster {10, 11} rooted at 10; batch 2 brings the
    // SMALLER id 5 into the same exact-copy cluster, so the root drops and
    // the already-published rows must be retracted downstream — the sink's
    // retraction feed carries exactly those rows, touched-sized
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_incsink_retr").toString
    val p = graft.ops.IncrementalDedup.Params(shingleW = 3, k = 64,
      bands = 32, threshold = 0.45, maxBucket = 256)
    graft.ops.IncrementalDedup.buildIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx", p, "init")
    val t = (0 until 25).map(i => s"tw$i").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.incrementalDedupSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/idx", s"$dir/reports", s"$dir/ckpt",
      retractionPath = Some(s"$dir/retractions"))
    try {
      input.addData((10L, t), (11L, t))
      q.processAllAvailable()
      // no previously-published doc changed: no batch partition lands
      val rdir = new java.io.File(s"$dir/retractions")
      assert(!rdir.exists() || rdir.listFiles()
        .forall(f => !f.getName.startsWith("batch_id=")))
      input.addData((5L, t))
      q.processAllAvailable()
      val retr = spark.read.parquet(s"$dir/retractions")
        .select("id", "old_cluster", "new_cluster", "batch_id")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(retr == Set((10L, 10L, 5L, 1L), (11L, 10L, 5L, 1L)))
      // applying the feed reconciles the earlier report with index state
      val reconciled = spark.read.parquet(s"$dir/reports")
        .select("id", "cluster_id").as[(Long, Long)].collect().toMap ++
        spark.read.parquet(s"$dir/retractions")
          .select("id", "new_cluster").as[(Long, Long)].collect().toMap
      val state = graft.ops.IncrementalDedup
        .currentLabels(spark, s"$dir/idx")
        .as[(Long, Long)].collect().toMap
      assert(reconciled == state)
    } finally q.stop()
  }

  test("compactShards between micro-batches: later batches ingest against the compacted index, state stays full-union") {
    // index maintenance slots into the micro-batch loop's idle gaps (the
    // loop is the single writer by contract); batches AFTER compaction
    // must probe the consolidated partitions and keep building the same
    // state one full-union dedup would — including duplicates of docs
    // whose label/bucket rows were rewritten by the compaction
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_incsink_compact").toString
    val p = graft.ops.IncrementalDedup.Params(shingleW = 3, k = 64,
      bands = 32, threshold = 0.45, maxBucket = 256)
    graft.ops.IncrementalDedup.buildIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx", p, "init")
    def doc(i: Long): String = (0 until 25).map(t => s"d${i}w$t").mkString(" ")
    def prefix(i: Long, keep: Int): String =
      doc(i).split(" ").take(keep).mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.incrementalDedupSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/idx", s"$dir/reports", s"$dir/ckpt")
    try {
      input.addData((0L, doc(0)), (1L, doc(1)), (100L, prefix(0, 22)))
      q.processAllAvailable()
      input.addData((2L, doc(2)), (200L, prefix(1, 22)))
      q.processAllAvailable()
      val (b, _, _) =
        graft.ops.IncrementalDedup.compactShards(spark, s"$dir/idx")
      assert(b._1 >= 2 && b._2 === 1, s"buckets must consolidate: $b")
      // post-compaction batch: dup of the REWRITTEN doc 0's cluster, a
      // dup of doc 2, and a fresh doc
      input.addData((101L, prefix(0, 23)), (300L, prefix(2, 22)), (3L, doc(3)))
      q.processAllAvailable()
      val dropped = graft.ops.IncrementalDedup.droppedIds(spark, s"$dir/idx")
        .as[Long].collect().toSet
      val union = Seq((0L, doc(0)), (1L, doc(1)), (100L, prefix(0, 22)),
        (2L, doc(2)), (200L, prefix(1, 22)),
        (101L, prefix(0, 23)), (300L, prefix(2, 22)), (3L, doc(3)))
        .toDF("doc_id", "text")
      val fullDropped = graft.ops.Dedup.resolveClusters(
        graft.ops.Dedup.minhashLshPairs(union, "doc_id", "text",
          shingleW = p.shingleW, k = p.k, bands = p.bands,
          threshold = p.threshold, maxBucketSize = p.maxBucket)
          .select($"id_a", $"id_b"))
        .filter($"id" =!= $"cluster_id").select($"id")
        .as[Long].collect().toSet
      assert(dropped == fullDropped)
    } finally q.stop()
  }

  test("cmsMonitorSink: streamed shard sketches converge to the one-shot batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.CountMin
    val docs = (0 until 40).map(i => (i.toLong, s"tok${i % 5} tok${i % 3} common"))
    val root = java.nio.file.Files.createTempDirectory("cms_sink").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.cmsMonitorSink(
      input.toDF().toDF("doc_id", "text"), "text",
      s"$root/store", s"$root/ckpt", depth = 3, width = 128)
    try {
      input.addData(docs.take(15): _*)
      q.processAllAvailable()
      input.addData(docs.drop(15): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = CountMin.read(spark, s"$root/store")
    val batchToks = docs.toDF("doc_id", "text")
      .select(org.apache.spark.sql.functions.explode(graft.ops.TextAnalysis
        .tokens(org.apache.spark.sql.functions.lower($"text"))).as("tok"))
    val oneShot = CountMin.build(batchToks, "tok", depth = 3, width = 128)
    assert(streamed.counts.map(_.toSeq).toSeq == oneShot.counts.map(_.toSeq).toSeq)
    // and the store answers point queries exactly at this width
    val est = Seq("common").toDF("t")
      .select(CountMin.estimateExpr($"t", streamed)).as[Long].head()
    assert(est == 40L)
  }
}
