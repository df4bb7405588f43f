package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[SemDedupStore]] — shard-incremental SemDeDup: union equivalence with
  * the batch operator, cross-shard retraction, idempotent re-ingest, and
  * the giant-cluster guard. */
class SemDedupStoreSpec extends SparkSpec {

  import spark.implicits._

  // two well-separated direction clusters plus exact-ish near-dups:
  // ids 1..4 around (1,0), ids 11..12 around (0,1)
  private def vecs(rows: (Long, Seq[Double])*) =
    rows.toSeq.toDF("vec_id", "v")

  private val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
    .toDF("cid", "cv")

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"semstore_$tag").toString + "/store"

  private def state(root: String) =
    SemDedupStore.currentState(spark, root)
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3), r.getBoolean(4)))

  test("incremental state equals batch semanticDedup over the union") {
    val root = freshRoot("eq")
    val s1 = vecs((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.02)),
      (11L, Seq(0.0, 1.0)))
    val s2 = vecs((3L, Seq(1.0, 0.01)), (12L, Seq(0.02, 1.0)))
    SemDedupStore.buildStore(s1, "vec_id", "v", cents, "cid", "cv",
      0.95, root, "s1")
    SemDedupStore.addShard(spark, root, s2, "vec_id", "v", "s2")
    val batch = Dedup.semanticDedup(s1.unionByName(s2), "vec_id", "v",
        cents, "cid", "cv", 0.95)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3), r.getBoolean(4)))
    assert(state(root).toSeq === batch.toSeq)
  }

  test("a cross-shard pair retracts a previously kept vector") {
    val root = freshRoot("retract")
    // shard 1: one vector very close to centroid 0 — kept after build
    val s1 = vecs((1L, Seq(1.0, 0.001)))
    SemDedupStore.buildStore(s1, "vec_id", "v", cents, "cid", "cv",
      0.95, root, "s1")
    assert(state(root).toSeq === Seq((1L, 0L, false, true)))
    // shard 2: a near-dup FARTHER from the centroid — the keep-the-
    // outlier rule keeps the newcomer and retracts the s1 vector
    val s2 = vecs((2L, Seq(1.0, 0.2)))
    SemDedupStore.addShard(spark, root, s2, "vec_id", "v", "s2")
    val got = state(root).toSeq
    assert(got === Seq((1L, 0L, true, false), (2L, 0L, true, true)),
      got.toString)
  }

  test("re-ingesting the same shard id is idempotent (crash-retry contract)") {
    val root = freshRoot("idem")
    val s1 = vecs((1L, Seq(1.0, 0.0)), (11L, Seq(0.0, 1.0)))
    val s2 = vecs((2L, Seq(1.0, 0.01)))
    SemDedupStore.buildStore(s1, "vec_id", "v", cents, "cid", "cv",
      0.95, root, "s1")
    SemDedupStore.addShard(spark, root, s2, "vec_id", "v", "s2")
    val once = state(root).toSeq
    // retry the same shard (as after a crash): same state, no dup rows
    SemDedupStore.addShard(spark, root, s2, "vec_id", "v", "s2")
    assert(state(root).toSeq === once)
  }

  test("maxClusterSize refuses a giant touched cluster, naming the mitigation") {
    val root = freshRoot("guard")
    val s1 = vecs((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.01)))
    SemDedupStore.buildStore(s1, "vec_id", "v", cents, "cid", "cv",
      0.95, root, "s1")
    val s2 = vecs((3L, Seq(1.0, 0.02)), (4L, Seq(1.0, 0.03)))
    val e = intercept[IllegalArgumentException] {
      SemDedupStore.addShard(spark, root, s2, "vec_id", "v", "s2",
        maxClusterSize = 3L)
    }
    assert(e.getMessage.contains("re-train with more centroids"), e.getMessage)
    // the refused ingest wrote nothing: state is still shard-1 only
    assert(state(root).map(_._1).toSeq === Seq(1L, 2L))
  }

  test("cold start: empty build, then shard ingests equal the batch answer") {
    // the r12 streamed-ingest failure mode: an empty build leaves
    // assign/ as an EMPTY DIR; the next ingest's prior read must not
    // resolve it with an empty partition schema (persist + the same
    // ingest's write then recaches a file index whose new files carry
    // a partition column the reader didn't plan for — the
    // ParquetFileFormat partitionValues assert)
    val root = freshRoot("cold")
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "v")
    SemDedupStore.buildStore(empty, "vec_id", "v", cents, "cid", "cv",
      0.95, root, "s0")
    assert(state(root).isEmpty)
    val s1 = vecs((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.02)))
    val s2 = vecs((3L, Seq(1.0, 0.01)), (11L, Seq(0.0, 1.0)))
    SemDedupStore.addShard(spark, root, s1, "vec_id", "v", "b0")
    SemDedupStore.addShard(spark, root, s2, "vec_id", "v", "b1")
    val batch = Dedup.semanticDedup(s1.unionByName(s2), "vec_id", "v",
        cents, "cid", "cv", 0.95)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3), r.getBoolean(4)))
    assert(state(root).toSeq === batch.toSeq)
  }

  test("threshold round-trips through meta; mismatched centroids stay frozen") {
    val root = freshRoot("meta")
    val s1 = vecs((1L, Seq(1.0, 0.0)))
    SemDedupStore.buildStore(s1, "vec_id", "v", cents, "cid", "cv",
      0.9, root, "s1")
    assert(SemDedupStore.readMeta(spark, root) === 0.9)
  }

  test("compactShards: state identical, later ingests agree with batch; assign crash leftovers deduped") {
    val root = freshRoot("compact")
    // every shard pairs with existing state so flags/ gets a partition
    // per shard (deltas only exist for shards that produced pairs)
    val s1 = vecs((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.02)),
      (11L, Seq(0.0, 1.0)))
    val s2 = vecs((3L, Seq(1.0, 0.01)))
    val s3 = vecs((12L, Seq(0.02, 1.0)))
    SemDedupStore.buildStore(s1, "vec_id", "v", cents, "cid", "cv",
      0.95, root, "s1")
    SemDedupStore.addShard(spark, root, s2, "vec_id", "v", "s2")
    SemDedupStore.addShard(spark, root, s3, "vec_id", "v", "s3")
    val before = state(root).toSeq
    val ((aB, aA), (fB, fA)) = SemDedupStore.compactShards(spark, root)
    assert(aB === 3 && aA === 1 && fB >= 2 && fA === 1,
      s"assign $aB->$aA flags $fB->$fA")
    assert(state(root).toSeq === before)
    // idempotent on a single partition
    assert(SemDedupStore.compactShards(spark, root) === (((1, 1), (1, 1))))
    // ingest against the compacted store still equals batch on the union
    val s4 = vecs((4L, Seq(1.0, 0.015)), (13L, Seq(0.01, 1.0)))
    SemDedupStore.addShard(spark, root, s4, "vec_id", "v", "s4")
    val union = s1.unionByName(s2).unionByName(s3).unionByName(s4)
    val batch = Dedup.semanticDedup(union, "vec_id", "v",
        cents, "cid", "cv", 0.95)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3), r.getBoolean(4)))
    assert(state(root).toSeq === batch.toSeq)
    // crash window with duplicate-INTOLERANT assign rows: a leftover
    // source next to its absorbed copy would double currentState rows —
    // the re-compaction's dropDuplicates(id) must restore exact state
    val afterIngest = state(root).toSeq
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val aDir = new org.apache.hadoop.fs.Path(s"$root/assign")
    val compacted = fs.listStatus(aDir)
      .filter(_.getPath.getName.startsWith("ingest_shard=compacted_"))
      .head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, compacted, fs,
      new org.apache.hadoop.fs.Path(aDir, "ingest_shard=leftover"),
      false, spark.sparkContext.hadoopConfiguration)
    SemDedupStore.compactShards(spark, root)
    assert(state(root).toSeq === afterIngest)
  }

  test("tiered compaction: small shards merge, the base stays; rename-done crash detected and finished") {
    val root = freshRoot("tier")
    // sized so assign DATA dominates parquet footers: 8-dim vectors,
    // base 500 rows, small shards 200 each. Unique directions per id
    // keep the pair population bounded (nothing crosses 0.95 except by
    // construction nothing does — this test is about layout, not flags)
    def bulk(idBase: Long, n: Int) = spark.range(0, n, 1, 2)
      .select((col("id") + idBase).as("vec_id"),
        transform(sequence(lit(0), lit(7)), j =>
          when(j === 0, lit(1.0))
            .otherwise(pmod(xxhash64(col("id") + idBase, j), lit(1000))
              .cast("double") / lit(500.0))).as("v"))
    SemDedupStore.buildStore(bulk(0L, 500), "vec_id", "v", cents, "cid",
      "cv", 0.9999999, root, "base")
    SemDedupStore.addShard(spark, root, bulk(10000L, 200), "vec_id", "v",
      "d1")
    SemDedupStore.addShard(spark, root, bulk(20000L, 200), "vec_id", "v",
      "d2")
    val before = state(root).toSeq
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val aDir = new org.apache.hadoop.fs.Path(s"$root/assign")
    def sizeOf(s: String): Long = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(aDir, s"ingest_shard=$s")).getLength
    def shards(): Set[String] = fs.listStatus(aDir)
      .filter(_.getPath.getName.startsWith("ingest_shard="))
      .map(_.getPath.getName.stripPrefix("ingest_shard=")).toSet
    val tier = math.max(sizeOf("d1"), sizeOf("d2"))
    require(sizeOf("base") > tier, "fixture: base must sit above the tier")
    val snap = new org.apache.hadoop.fs.Path(root + "_snap")
    for (s <- Seq("d1", "d2"))
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(aDir, s"ingest_shard=$s"), fs,
        new org.apache.hadoop.fs.Path(snap, s"ingest_shard=$s"),
        false, spark.sparkContext.hadoopConfiguration)
    val ((aB, aA), _) = SemDedupStore.compactShards(spark, root, tier)
    assert(aB === 3 && aA === 2, s"assign $aB->$aA")
    val tierName = (shards() - "base").head
    assert(tierName.startsWith("compacted_"))
    assert(state(root).toSeq === before)
    // recreate the rename-done crash window for assign and re-run: the
    // deterministic name detects the completed rename and finishes the
    // source deletion (never re-reads sources next to their absorbed copy)
    for (s <- Seq("d1", "d2"))
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(snap, s"ingest_shard=$s"), fs,
        new org.apache.hadoop.fs.Path(aDir, s"ingest_shard=$s"),
        false, spark.sparkContext.hadoopConfiguration)
    require(sizeOf(tierName) > tier,
      "fixture: the merged tier must sit above the threshold so the " +
        "re-run selects exactly the crashed run's source set")
    val ((aB2, aA2), (fB2, fA2)) = SemDedupStore.compactShards(spark, root,
      tier)
    assert(aB2 === 4 && aA2 === 2 && fB2 === fA2,
      s"assign $aB2->$aA2 flags $fB2->$fA2")
    assert(shards() === Set("base", tierName))
    assert(state(root).toSeq === before)
  }

  test("tiered compactions over source sets with equal String.hashCode sums keep every vector") {
    // "14" + "21" and "15" + "20" have the same String.hashCode sum; both
    // tables (assign and flags) compact through the shared tier path
    val root = freshRoot("collide")
    // high-entropy components so parquet DATA, not dictionary pages or
    // footers, sets the partition sizes; with `planted`, ids 0 and 1 of
    // the shard are identical all-ones vectors, so flags/ gets partitions
    def bulk(idBase: Long, n: Int, planted: Boolean = true) =
      spark.range(0, n, 1, 2)
        .select((col("id") + idBase).as("vec_id"),
          transform(sequence(lit(0), lit(7)), j =>
            when(j === 0 || (lit(planted) && col("id") < 2), lit(1.0))
              .otherwise(pmod(xxhash64(col("id") + idBase, j), lit(1000000))
                .cast("double") / lit(500000.0))).as("v"))
    val parts = Seq("14" -> bulk(10000L, 200), "21" -> bulk(20000L, 200),
      "15" -> bulk(30000L, 150), "20" -> bulk(40000L, 150))
    val base = bulk(0L, 500, planted = false)
    SemDedupStore.buildStore(base, "vec_id", "v", cents, "cid", "cv",
      0.9999999, root, "base")
    for ((id, d) <- parts.take(2))
      SemDedupStore.addShard(spark, root, d, "vec_id", "v", id)
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val aDir = new org.apache.hadoop.fs.Path(s"$root/assign")
    def sizeOf(s: String): Long = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(aDir, s"ingest_shard=$s")).getLength
    def shards(): Set[String] = fs.listStatus(aDir)
      .filter(_.getPath.getName.startsWith("ingest_shard="))
      .map(_.getPath.getName.stripPrefix("ingest_shard=")).toSet
    val tier = math.max(sizeOf("14"), sizeOf("21"))
    require(sizeOf("base") > tier, "fixture: base must sit above the tier")
    val ((aB1, aA1), (fB1, fA1)) =
      SemDedupStore.compactShards(spark, root, tier)
    assert(aB1 === 3 && aA1 === 2 && fB1 === 2 && fA1 === 1,
      s"assign $aB1->$aA1 flags $fB1->$fA1")
    val first = (shards() - "base").head
    require(sizeOf(first) > tier,
      "fixture: the first tier must sit above the threshold so the " +
        "second run selects only the new shards")
    for ((id, d) <- parts.drop(2))
      SemDedupStore.addShard(spark, root, d, "vec_id", "v", id)
    require(sizeOf("15") <= tier && sizeOf("20") <= tier,
      "fixture: the new shards must sit at or under the tier")
    val before = state(root).toSeq
    val ((aB2, aA2), (fB2, fA2)) =
      SemDedupStore.compactShards(spark, root, tier)
    val after = state(root).toSeq
    assert(after.size === before.size,
      s"${before.size - after.size} of ${before.size} vectors lost")
    assert(after === before)
    // flags' first tier is small, so it folds again with the new shards
    assert(aB2 === 4 && aA2 === 3 && fB2 === 3 && fA2 === 1,
      s"assign $aB2->$aA2 flags $fB2->$fA2")
    val union = parts.map(_._2).foldLeft(base)(_ unionByName _)
    val batch = Dedup.semanticDedup(union, "vec_id", "v",
        cents, "cid", "cv", 0.9999999)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3), r.getBoolean(4)))
    assert(state(root).toSeq === batch.toSeq,
      "every ingested vector and flag survives both tiers")
  }
}
