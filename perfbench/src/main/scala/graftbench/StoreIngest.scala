package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ops.{Bm25Store, IncrementalDedup}

/** Seeded text corpus: word frequencies follow a Zipf curve over a
  * pseudo-word vocabulary, and a tenth of the documents are planted
  * near-duplicates (a copy of an earlier document with a word replaced).
  * Every document is a pure function of (seed, id), so shards can be
  * generated on demand in any order. */
final class Corpus(seed: Long) {
  import Corpus._

  private val vocab: IndexedSeq[String] = {
    val syl = IndexedSeq("ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo",
      "mu", "na", "pe", "qui", "ro", "su", "ta", "ve", "wo", "xi", "zu")
    (0 until VocabSize).map { r =>
      var x = r + 1
      val b = new StringBuilder
      while (x > 0) { b ++= syl(x % syl.size); x /= syl.size }
      b.toString
    }
  }
  /** Cumulative Zipf(s = 1.07) weights over the vocabulary ranks. */
  private val cdf: Array[Double] = {
    val w = (1 to VocabSize).map(r => 1.0 / math.pow(r, 1.07))
    val c = w.scanLeft(0.0)(_ + _).tail.toArray
    c.map(_ / c.last)
  }

  private def rng(id: Long, salt: Long) =
    new java.util.SplittableRandom(seed * 1000003L ^ id * 7919L ^ salt)

  private def word(r: java.util.SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    vocab(math.min(VocabSize - 1, if (i >= 0) i else -i - 1))
  }

  /** The earlier document `id` was copied from, if it is a planted
    * near-duplicate. Planting follows the id, not the seed, so every shard
    * holds the same number of them and the dedup work per shard does not
    * depend on the seed. */
  def plantedFrom(id: Long): Option[Long] =
    if (id >= PlantEvery && id % PlantEvery == PlantEvery - 1) Some(rng(id, 1).nextLong(id))
    else None

  def words(id: Long): Array[String] = plantedFrom(id) match {
    case Some(src) =>
      val w = words(src).clone()
      // one word replaced mid-document: long shared runs survive on both sides
      w(w.length / 2) = word(rng(id, 2))
      w
    case None =>
      val r = rng(id, 3)
      Array.fill(MinWords + r.nextInt(MaxWords - MinWords))(word(r))
  }

  def text(id: Long): String = words(id).mkString(" ")

  /** Documents [from, until) as an (id, text) frame of `parts` partitions. */
  def frame(spark: SparkSession, from: Long, until: Long, parts: Int): DataFrame = {
    val ids = (from until until).toIndexedSeq
    val rows = ids.map(i => Row(i, text(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
  }
}

object Corpus {
  val VocabSize = 8000
  val MinWords = 80
  val MaxWords = 180
  /** One document in ten is a planted near-duplicate. */
  val PlantEvery = 10
}

/** Writes beside reads on the persisted stores. Setup loads a base corpus
  * into the incremental-dedup index and the BM25 index. Each timed day
  * ingests a daily shard (2% of the base) into both stores,
  * probes the BM25 index with a fixed seeded query batch, and every
  * second day runs each store's size-tiered compaction. */
final class StoreIngest(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload(spark, tracer, seed) {
  import StoreIngest._

  val primary = "ingest"
  private val corpus = new Corpus(seed)
  private var dir = ""
  private def root(store: String) = s"$dir/stores/$store"
  private var tier = Map.empty[String, Long]
  private var day = -1
  private var ingested = 0L
  private var inputBytes = 0L
  private var probeQueries: DataFrame = _
  /** (store, op kind, span) per timed store call. */
  private val calls = mutable.ArrayBuffer.empty[(String, String, Span)]

  def setup(d: String): Unit = {
    dir = d
    // Both stores start empty, the state a streaming ingest starts from,
    // and take the base corpus as their first shard (day 0). The base load
    // runs the same ingest path as the daily shards, so it also warms it.
    val empty = corpus.frame(spark, 0, 0, 1)
    Par.run(Stores.size)(Seq(
      () => IncrementalDedup.buildIndex(empty, "id", "text", root("incdedup")),
      () => Bm25Store.build(empty, "id", "text", root("bm25"))))
    val (shardId, shard, planted) = nextShard(BaseDocs)
    plantedDropped(shardId, planted,
      Par.run(Stores.size)(Stores.map(s => () => ingestInto(s, shard, shardId))).head)
    val r = new scala.util.Random(seed)
    val qs = (0 until ProbeQueries).map { q =>
      val w = corpus.words(r.nextInt(BaseDocs).toLong)
      val at = r.nextInt(w.length - 4)
      Row(q.toLong, w.slice(at, at + 2 + r.nextInt(3)).mkString(" "))
    }
    probeQueries = spark.createDataFrame(spark.sparkContext.parallelize(qs, 1),
      StructType(Seq(StructField("qid", LongType), StructField("qtext", StringType))))
      .cache()
    probeBm25()
  }

  def warmup(): Unit = {
    // tier bound: a few daily shards' worth, far below the base partition
    tier = Stores.map(s => s -> Files.usage(root(s))._2 / 8).toMap
    // day 1, untimed and side by side: day 2 then has a small shard to
    // compact with
    val (shardId, shard, planted) = nextShard(ShardDocs)
    plantedDropped(shardId, planted,
      Par.run(Stores.size)(Stores.map(s => () => ingestInto(s, shard, shardId))).head)
  }

  /** The next shard of `docs` documents, written where a crawl would drop
    * it: (shard id, its documents, the planted near-duplicates in it). */
  private def nextShard(docs: Int): (String, DataFrame, Set[Long]) = {
    day += 1
    val shardId = java.time.LocalDate.of(2024, 1, 1).plusDays(day).toString
    val path = s"$dir/input/$shardId"
    corpus.frame(spark, ingested, ingested + docs, 4).write.mode("overwrite").parquet(path)
    inputBytes += Files.usage(path)._2
    val planted = (ingested until ingested + docs)
      .filter(i => corpus.plantedFrom(i).isDefined).toSet
    ingested += docs
    (shardId, spark.read.parquet(path), planted)
  }

  /** incdedup's verdicts are the caller's output, so they are collected;
    * the BM25 store writes its report through and returns a scan of it. */
  private def ingestInto(store: String, shard: DataFrame, shardId: String): Array[Row] =
    store match {
      case "incdedup" => IncrementalDedup.addShard(spark, root(store), shard, "id", "text",
        shardId).collect()
      case "bm25" => Bm25Store.addShard(spark, root(store), shard, "id", "text", shardId)
        Array()
    }

  private def plantedDropped(shardId: String, planted: Set[Long],
      verdicts: Array[Row]): Boolean = {
    val dropped = verdicts.filter(r => !r.getAs[Boolean]("survived"))
      .map(_.getAs[Long]("id")).toSet
    check(planted.subsetOf(dropped),
      s"$shardId: incdedup kept planted near-duplicates ${planted -- dropped}")
  }

  def step(): Seq[Op] = {
    val (shardId, shard, planted) = nextShard(ShardDocs)
    var verdicts = Array.empty[Row]
    val ingest = timed("ingest") {
      Stores.foreach { s =>
        val r = call(s, "ingest")(ingestInto(s, shard, shardId))
        if (s == "incdedup") verdicts = r
      }
      ShardDocs.toLong
    }
    val ingestOk = ingest.ok && plantedDropped(shardId, planted, verdicts)
    var hits = Array.empty[Row]
    val probe = timed("probe") {
      hits = call("bm25", "probe")(probeBm25())
      ProbeQueries.toLong
    }
    val ops = Seq(ingest.copy(ok = ingestOk), probe)
    if (day % CompactEvery != 0) return ops

    val labelsBefore = labelsDigest()
    val compact = timed("compact") {
      call("incdedup", "compact")(IncrementalDedup.compactShards(spark, root("incdedup"),
        tier("incdedup")))
      call("bm25", "compact")(Bm25Store.compactShards(spark, root("bm25"), tier("bm25")))
      0L
    }
    val compactOk = compact.ok &&
      check(labelsDigest() == labelsBefore, s"$shardId: incdedup labels changed by compaction") &&
      check(probeBm25().toSeq == hits.toSeq, s"$shardId: bm25 topK changed by compaction")
    ops :+ compact.copy(ok = compactOk)
  }

  private def call[T](store: String, kind: String)(body: => T): T = {
    val r = tracer.span(s"$store.$kind")(body)
    calls += ((store, kind, tracer.spans.last))
    r
  }

  private def probeBm25(): Array[Row] =
    Bm25Store.topK(spark, root("bm25"), probeQueries, "qid", "qtext", TopK)
      .orderBy("qid", "rank").collect()

  private def labelsDigest(): String =
    Stats.digest(IncrementalDedup.currentLabels(spark, root("incdedup")))

  def extra(ops: Seq[Op]): Map[String, Double] = {
    def med(kind: String) = {
      val xs = ops.filter(_.kind == kind).map(_.seconds)
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    }
    Map("ingest_p50_s" -> med("ingest"), "probe_p50_s" -> med("probe"),
      "compact_s" -> med("compact"))
  }

  def layers(ops: Seq[Op], spans: Seq[Span]): Map[String, Double] = {
    val timed = spans.map(_.id).toSet
    val cs = calls.filter(c => timed.contains(c._3.id)).toSeq
    def med(store: String, kind: String)(f: Span => Double): Double = {
      val xs = cs.filter(c => c._1 == store && c._2 == kind).map(c => f(c._3))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val engine = LayerListener.Metrics.map { m =>
      s"spark.$m" -> cs.map(_._3.engine.getOrElse(m, 0.0)).sum / cs.size
    }
    val perStore = Stores.flatMap { s =>
      val (files, bytes) = Files.usage(root(s))
      Seq(s"ops.$s.ingest_s" -> med(s, "ingest")(_.seconds),
        s"ops.$s.jobs_per_ingest" -> med(s, "ingest")(_.engine.getOrElse("jobs", 0.0)),
        s"ops.$s.compact_s" -> med(s, "compact")(_.seconds),
        s"ops.$s.files" -> files.toDouble,
        s"ops.$s.mb" -> bytes / 1e6,
        s"ops.$s.bytes_per_input_byte" -> bytes.toDouble / inputBytes)
    }
    // the stores' own stage timers, as sub-spans of their calls
    val timers = cs.flatMap(_._3.timers.keys).distinct.map { k =>
      s"ops.timer.$k" -> Stats.median(cs.flatMap(_._3.timers.get(k)))
    }
    (engine ++ perStore ++ timers :+ ("ops.bm25.probe_s" -> med("bm25", "probe")(_.seconds)))
      .toMap
  }
}

object StoreIngest {
  val BaseDocs = 1000
  /** A daily shard is 2% of the base corpus. */
  val ShardDocs: Int = BaseDocs * 2 / 100
  val CompactEvery = 2
  val ProbeQueries = 50
  val TopK = 10
  val Stores = Seq("incdedup", "bm25")
}
