package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted chunk-digest store: every ingest report must equal
  * [[Cdc.chunkReuse]] of (all prior versions' chunks, the shard's
  * chunks) — the store is that operator's incremental twin — and store
  * state must equal the distinct digests of everything ingested.
  * Exercised on BOTH chunker families (the store owns its keying via
  * meta). */
class CdcStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(tag: String): String = {
    val d = System.getProperty("java.io.tmpdir") +
      s"/graft_cdc_store_spec_${tag}_p" + ProcessHandle.current().pid()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    d
  }

  private def text(n: Int, seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(_ => s"w${rnd.nextInt(997)}").mkString(" ")
  }

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def chunksOf(d: DataFrame, p: CdcStore.Params): DataFrame =
    if (p.family == "gear")
      Cdc.chunks(d, "doc_id", "text", p.maskBits, p.minLen, p.maxLen)
    else Cdc.chunksPortable(d, "doc_id", "text", p.k, p.divisor, p.minLen,
      p.maxLen)

  private def rep(df: DataFrame): Set[(Long, Long, Long, Long, Long, Double)] =
    df.select(col("id"), col("n_chunks"), col("n_reused"),
        col("total_len"), col("reused_len"), col("reused_frac"))
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet

  private val families = Seq(
    CdcStore.Params(family = "gear", maskBits = 5, minLen = 24, maxLen = 96),
    CdcStore.Params(family = "md5", k = 16, divisor = 16, minLen = 24,
      maxLen = 96))

  test("ingest report equals chunkReuse of prior-union vs shard; state = distinct union digests") {
    for (p <- families) {
      val root = tmpRoot(s"twin_${p.family}")
      val v1 = docs(1L -> text(80, 1), 2L -> text(80, 2), 3L -> text(80, 3))
      val shardA = docs(10L -> text(80, 10), 11L -> text(80, 2)) // 11 = copy of 2
      val shardB = docs(
        20L -> ("EDIT " + text(80, 10)), // head-edit of A's doc 10
        21L -> text(80, 21))
      CdcStore.build(v1, "doc_id", "text", root, p)
      val repA = CdcStore.addShard(spark, root, shardA, "doc_id", "text", "a")
      assert(rep(repA) == rep(Cdc.chunkReuse(chunksOf(v1, p),
        chunksOf(shardA, p), minReuseLen = p.minLen)),
        s"${p.family}: shard A report = chunkReuse twin")
      val repB = CdcStore.addShard(spark, root, shardB, "doc_id", "text", "b")
      assert(rep(repB) == rep(Cdc.chunkReuse(
        chunksOf(v1.unionByName(shardA), p), chunksOf(shardB, p),
        minReuseLen = p.minLen)),
        s"${p.family}: shard B reuse is vs v1 UNION shard A")
      // the planted structure: 11 reuses everything from 2; 20 resyncs
      // against A's 10; 21 is fresh
      val m = rep(repB).map(r => r._1 -> r._6).toMap ++
        rep(repA).map(r => r._1 -> r._6).toMap
      assert(m(11L) == 1.0, s"${p.family}: verbatim copy fully reused")
      assert(m(20L) >= 0.5, s"${p.family}: head-edited doc resyncs")
      // state = distinct REUSABLE digests of everything ingested
      // (sub-minLen forced tails never enter the set)
      val expect = chunksOf(v1.unionByName(shardA).unionByName(shardB), p)
        .filter(col("len") >= p.minLen)
        .select("digest").distinct().collect().toSet
      assert(CdcStore.currentDigests(spark, root).collect().toSet == expect,
        s"${p.family}: state is the distinct reusable union digest set")
    }
  }

  test("crash replay: re-ingesting the same shard id is idempotent on state AND report") {
    val p = families.head
    val root = tmpRoot("replay")
    CdcStore.build(docs(1L -> text(60, 1)), "doc_id", "text", root, p)
    val shard = docs(5L -> text(60, 1), 6L -> text(60, 6))
    val r1 = rep(CdcStore.addShard(spark, root, shard, "doc_id", "text", "s"))
    val state1 = CdcStore.currentDigests(spark, root).collect().toSet
    val r2 = rep(CdcStore.addShard(spark, root, shard, "doc_id", "text", "s"))
    assert(r1 == r2, "replayed report identical (probe excludes in-flight shard)")
    assert(CdcStore.currentDigests(spark, root).collect().toSet == state1,
      "replayed state identical (dynamic partition overwrite)")
    assert(r1.find(_._1 == 5L).get._6 == 1.0,
      "doc 5 duplicates a BASE doc, so it reads fully reused even on replay")
  }

  test("cold start: empty build, first shard reuses nothing, intra-shard dups don't count") {
    val p = families.head
    val root = tmpRoot("cold")
    CdcStore.build(docs().limit(0)
      .select(col("doc_id"), col("text")), "doc_id", "text", root, p)
    val t0 = text(60, 42)
    val shard = docs(1L -> t0, 2L -> t0) // intra-shard duplicate pair
    val r = rep(CdcStore.addShard(spark, root, shard, "doc_id", "text", "s0"))
    assert(r.forall(_._3 == 0L),
      "reuse is vs PRIOR versions only — intra-shard duplicates read 0")
    val second = rep(CdcStore.addShard(spark, root,
      docs(3L -> t0), "doc_id", "text", "s1"))
    assert(second.head._6 == 1.0, "the NEXT shard sees s0's digests")
  }

  test("jumbo path (maxBroadcastKeys = 0) is result-identical to the broadcast path") {
    val p = families.head
    val rootA = tmpRoot("jumboA")
    val rootB = tmpRoot("jumboB")
    val v1 = docs((1L to 6L).map(i => i -> text(70, i.toInt)): _*)
    val shard = docs(10L -> text(70, 3), 11L -> text(70, 99))
    for (root <- Seq(rootA, rootB))
      CdcStore.build(v1, "doc_id", "text", root, p)
    val viaBroadcast = rep(CdcStore.addShard(spark, rootA, shard,
      "doc_id", "text", "s"))
    val viaLegs = rep(CdcStore.addShard(spark, rootB, shard,
      "doc_id", "text", "s", maxBroadcastKeys = 0L))
    assert(viaBroadcast == viaLegs, "per-bucket legs = broadcast result")
    assert(CdcStore.currentDigests(spark, rootA).collect().toSet ==
      CdcStore.currentDigests(spark, rootB).collect().toSet)
    assert(!new java.io.File(s"$rootB/__probe_ingest").exists(),
      "probe temp cleaned up")
  }

  test("tiered compaction folds the shard tail, state identical; rename-done crash detected and finished") {
    // sized so parquet DATA dominates footers (size comparisons are
    // meaningless at footer scale), few buckets for the same reason
    val p = CdcStore.Params(family = "gear", maskBits = 4, minLen = 12,
      maxLen = 48, nBuckets = 2)
    val root = tmpRoot("compact")
    def corpus(idBase: Long, n: Int): DataFrame =
      (0 until n).map(i => (idBase + i, text(12, (idBase + i).toInt)))
        .toDF("doc_id", "text")
    CdcStore.build(corpus(0, 500), "doc_id", "text", root, p)
    CdcStore.addShard(spark, root, corpus(1000, 200), "doc_id", "text", "s1")
    CdcStore.addShard(spark, root, corpus(2000, 200), "doc_id", "text", "s2")
    val stateBefore = CdcStore.currentDigests(spark, root).collect().toSet
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ddir = new org.apache.hadoop.fs.Path(s"$root/digests")
    def sizeOf(s: String): Long = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(ddir, s"ingest_shard=$s")).getLength
    def shards(): Set[String] = fs.listStatus(ddir)
      .filter(_.getPath.getName.startsWith("ingest_shard="))
      .map(_.getPath.getName.stripPrefix("ingest_shard=")).toSet
    val tier = math.max(sizeOf("s1"), sizeOf("s2"))
    require(sizeOf("base") > tier, "fixture: base must sit above the tier")
    // snapshot the small shards so the crash window can be recreated
    val snap = new org.apache.hadoop.fs.Path(root + "_snap")
    for (s <- Seq("s1", "s2"))
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(ddir, s"ingest_shard=$s"), fs,
        new org.apache.hadoop.fs.Path(snap, s"ingest_shard=$s"),
        false, spark.sparkContext.hadoopConfiguration)
    assert(CdcStore.compactShards(spark, root, tier) == ((3, 2)),
      "s1 + s2 fold into one tier, base untouched")
    val tierName = (shards() - "base").head
    assert(tierName.startsWith("compacted_"))
    assert(CdcStore.currentDigests(spark, root).collect().toSet == stateBefore,
      "compaction is invisible to membership state")
    // recreate the documented crash window: rename completed (the tier
    // partition exists) but source deletion never ran
    for (s <- Seq("s1", "s2"))
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(snap, s"ingest_shard=$s"), fs,
        new org.apache.hadoop.fs.Path(ddir, s"ingest_shard=$s"),
        false, spark.sparkContext.hadoopConfiguration)
    require(sizeOf(tierName) > tier,
      "fixture: the merged tier must sit above the threshold so the " +
        "re-run selects exactly the crashed run's source set")
    assert(CdcStore.compactShards(spark, root, tier) == ((4, 2)),
      "detection branch: finish the deletion, write nothing")
    assert(shards() == Set("base", tierName))
    assert(CdcStore.currentDigests(spark, root).collect().toSet == stateBefore)
    // global pass folds tier + base into one deduplicated partition
    val (b2, a2) = CdcStore.compactShards(spark, root)
    assert(b2 == 2 && a2 == 1, "global pass folds the rest")
    assert(CdcStore.currentDigests(spark, root).collect().toSet == stateBefore)
  }

  private def fsFor(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def shardDir(table: String, s: String) =
    new org.apache.hadoop.fs.Path(table, s"ingest_shard=$s")

  private def shardsOf(table: String): Set[String] =
    fsFor(table).listStatus(new org.apache.hadoop.fs.Path(table))
      .filter(_.getPath.getName.startsWith("ingest_shard="))
      .map(_.getPath.getName.stripPrefix("ingest_shard=")).toSet

  private def sizeOf(table: String, s: String): Long =
    fsFor(table).getContentSummary(shardDir(table, s)).getLength

  // sized so parquet DATA dominates footers, as in the tiered test above
  private val tierParams = CdcStore.Params(family = "gear", maskBits = 4,
    minLen = 12, maxLen = 48, nBuckets = 2)

  private def corpus(idBase: Long, n: Int): DataFrame =
    (0 until n).map(i => (idBase + i, text(12, (idBase + i).toInt)))
      .toDF("doc_id", "text")

  test("tiered compactions over source sets with equal String.hashCode sums keep every digest") {
    // "14" + "21" and "15" + "20" have the same String.hashCode sum, so a
    // hash-sum tier name would collide: the second run would find the
    // first run's tier, write nothing and delete its own sources
    val p = tierParams
    val root = tmpRoot("collide")
    val ddir = s"$root/digests"
    val shards = Seq("14" -> corpus(1000, 200), "21" -> corpus(2000, 200),
      "15" -> corpus(3000, 150), "20" -> corpus(4000, 150))
    val base = corpus(0, 500)
    CdcStore.build(base, "doc_id", "text", root, p)
    for ((id, d) <- shards.take(2))
      CdcStore.addShard(spark, root, d, "doc_id", "text", id)
    val tier = math.max(sizeOf(ddir, "14"), sizeOf(ddir, "21"))
    require(sizeOf(ddir, "base") > tier, "fixture: base must sit above the tier")
    assert(CdcStore.compactShards(spark, root, tier) == ((3, 2)))
    val first = (shardsOf(ddir) - "base").head
    require(sizeOf(ddir, first) > tier,
      "fixture: the first tier must sit above the threshold so the " +
        "second run selects only the new shards")
    for ((id, d) <- shards.drop(2))
      CdcStore.addShard(spark, root, d, "doc_id", "text", id)
    require(sizeOf(ddir, "15") <= tier && sizeOf(ddir, "20") <= tier,
      "fixture: the new shards must sit at or under the tier")
    val counts = CdcStore.compactShards(spark, root, tier)
    val expected = chunksOf(shards.map(_._2).foldLeft(base)(_ unionByName _), p)
      .filter(col("len") >= p.minLen).select(col("digest")).distinct()
      .collect().toSet
    val got = CdcStore.currentDigests(spark, root).collect().toSet
    val nLost = (expected -- got).size
    assert(nLost == 0, s"of ${expected.size} ingested digests lost")
    assert(got == expected)
    assert(counts == ((4, 3)))
    val tiers = shardsOf(ddir) - "base"
    assert(tiers.size == 2 && tiers.contains(first) &&
      tiers.forall(_.startsWith("compacted_")), tiers.toString)
    // a tier in the older hash-sum naming, without a manifest, is an
    // ordinary shard: it reads and folds like any other
    val fs = fsFor(root)
    fs.rename(shardDir(ddir, first), shardDir(ddir, "compacted_c62"))
    fs.delete(new org.apache.hadoop.fs.Path(shardDir(ddir, "compacted_c62"),
      "_sources"), false)
    assert(CdcStore.currentDigests(spark, root).collect().toSet == expected)
    assert(CdcStore.compactShards(spark, root) == ((3, 1)))
    assert(CdcStore.currentDigests(spark, root).collect().toSet == expected)
  }

  test("a tier whose _sources manifest does not match fails the crash re-run and deletes nothing") {
    val p = tierParams
    val root = tmpRoot("manifest")
    val ddir = s"$root/digests"
    CdcStore.build(corpus(0, 500), "doc_id", "text", root, p)
    CdcStore.addShard(spark, root, corpus(1000, 200), "doc_id", "text", "s1")
    CdcStore.addShard(spark, root, corpus(2000, 200), "doc_id", "text", "s2")
    val fs = fsFor(root)
    val tier = math.max(sizeOf(ddir, "s1"), sizeOf(ddir, "s2"))
    val snap = s"${root}_snap"
    def copyShards(from: String, to: String): Unit =
      for (s <- Seq("s1", "s2"))
        org.apache.hadoop.fs.FileUtil.copy(fs, shardDir(from, s), fs,
          shardDir(to, s), false, spark.sparkContext.hadoopConfiguration)
    copyShards(ddir, snap)
    assert(CdcStore.compactShards(spark, root, tier) == ((3, 2)))
    val tierName = (shardsOf(ddir) - "base").head
    val manifest = new org.apache.hadoop.fs.Path(shardDir(ddir, tierName),
      "_sources")
    assert(fs.exists(manifest), "the tier carries its source manifest")
    // the crash-after-rename window, with a tier whose manifest names
    // other sources
    copyShards(snap, ddir)
    require(sizeOf(ddir, tierName) > tier,
      "fixture: the re-run must select exactly the crashed run's sources")
    val out = fs.create(manifest, true)
    try out.write("2:s1\n2:s9\n".getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalArgumentException] {
      CdcStore.compactShards(spark, root, tier)
    }
    assert(e.getMessage.contains("_sources"), e.getMessage)
    assert(shardsOf(ddir) == Set("base", tierName, "s1", "s2"),
      "no source directory was deleted")
  }

  test("readMeta sees a meta/ rewritten outside the store") {
    val p1 = CdcStore.Params(family = "md5", k = 12, divisor = 8,
      minLen = 10, maxLen = 50, nBuckets = 4)
    val p2 = p1.copy(k = 20, nBuckets = 8)
    val root = tmpRoot("meta_fresh")
    CdcStore.build(docs(1L -> text(30, 1)), "doc_id", "text", root, p1)
    assert(CdcStore.readMeta(spark, root) == p1)
    // another process rebuilding the store: same meta/ layout, written
    // without this process's memo ever being told
    spark.range(1).select(lit(p2.family).as("family"),
      lit(p2.maskBits).as("mask_bits"), lit(p2.k).as("k"),
      lit(p2.divisor).as("divisor"), lit(p2.minLen).as("min_len"),
      lit(p2.maxLen).as("max_len"), lit(p2.nBuckets).as("n_buckets"))
      .write.mode("overwrite").parquet(s"$root/meta")
    assert(CdcStore.readMeta(spark, root) == p2)
  }

  test("meta round-trips and probes refuse a missing store") {
    val p = CdcStore.Params(family = "md5", k = 12, divisor = 8,
      minLen = 10, maxLen = 50, nBuckets = 4)
    val root = tmpRoot("meta")
    CdcStore.build(docs(1L -> text(30, 1)), "doc_id", "text", root, p)
    assert(CdcStore.readMeta(spark, root) == p)
    intercept[Exception] {
      CdcStore.addShard(spark, tmpRoot("absent"), docs(1L -> "x"),
        "doc_id", "text", "s")
    }
  }
}
