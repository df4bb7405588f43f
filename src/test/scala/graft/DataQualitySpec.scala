package graft

import graft.quality.DataQuality
import graft.quality.DataQuality.QualityConfig

class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  test("checkNulls counts injected nulls per column; missing columns reported") {
    val df = Seq(("a", Option(1)), ("b", None), ("c", None))
      .toDF("id", "v")
    val r = DataQuality.checkNulls(df, Seq("id", "v", "nope"))
    assert(!r.passed)
    assert(r.nullCounts == Map("id" -> 0L, "v" -> 2L))
    assert(r.missingColumns == Seq("nope"))
  }

  test("checkDuplicates counts extra rows (total - distinct), reference formula") {
    val df = Seq("k1", "k1", "k1", "k2").toDF("key")
    val r = DataQuality.checkDuplicates(df, Seq("key"))
    assert(!r.passed && r.duplicateCount == 2) // 4 rows - 2 distinct
    val ok = DataQuality.checkDuplicates(Seq("a", "b").toDF("key"), Seq("key"))
    assert(ok.passed && ok.duplicateCount == 0)
  }

  test("checkDataRanges counts out-of-range values per column") {
    val df = Seq(250, 700, 900, 400).toDF("credit_score")
    val r = DataQuality.checkDataRanges(df, Map("credit_score" -> ((300.0, 850.0))))
    assert(!r.passed && r.outOfRangeCounts == Map("credit_score" -> 2L))
  }

  test("checkReferentialIntegrity finds orphaned foreign keys") {
    val fk = Seq("a", "a", "b", "x").toDF("account_id")
    val pk = Seq("a", "b", "c").toDF("account_id")
    val r = DataQuality.checkReferentialIntegrity(fk, pk, "account_id", "account_id")
    assert(!r.passed && r.orphanedCount == 1)
  }

  test("runAllChecks aggregates results with overall_passed gate") {
    val good = Seq((1, 500), (2, 600)).toDF("id", "score")
    val cfg = QualityConfig("t", Seq("id", "score"), Seq("id"),
      Map("score" -> ((300.0, 850.0))))
    val r = DataQuality.runAllChecks(good, cfg)
    assert(r.overallPassed && r.recordCount == 2)
    assert(r.nullCheck.get.passed && r.duplicateCheck.get.passed && r.rangeCheck.get.passed)

    val bad = Seq((1, 500), (1, 900)).toDF("id", "score")
    val r2 = DataQuality.runAllChecks(bad, cfg)
    assert(!r2.overallPassed)
    assert(!r2.duplicateCheck.get.passed && !r2.rangeCheck.get.passed)
  }

  test("runAllChecks' fused duplicate count equals checkDuplicates: null keys, partial-null pairs, empty frame") {
    def parity(df: org.apache.spark.sql.DataFrame, keys: Seq[String], expected: Long) = {
      val ref = DataQuality.checkDuplicates(df, keys)
      val fused = DataQuality.runAllChecks(df, QualityConfig(keyColumns = keys))
      assert(fused.duplicateCheck.contains(ref) && ref.duplicateCount == expected,
        s"keys=$keys fused=${fused.duplicateCheck} ref=$ref")
      assert(fused.recordCount == df.count())
    }
    // null keys form one group, as in groupBy: 4 rows, 2 groups
    val nullKeys = Seq(Option("a"), None, None, Option("a")).toDF("k")
    parity(nullKeys, Seq("k"), 2)
    // two-column keys with partial nulls: (a,null) x2, (null,1) x2,
    // (null,null) x1, (a,1) x1 -> 6 rows, 4 groups
    val pairs = Seq((Option("a"), Option.empty[Int]), (Option("a"), None),
      (None, Option(1)), (None, Option(1)), (None, None), (Option("a"), Option(1)))
      .toDF("k1", "k2")
    parity(pairs, Seq("k1", "k2"), 2)
    parity(pairs, Seq("k2", "k1"), 2)
    parity(pairs.filter($"k1".isNull), Seq("k1"), 2)
    // an empty frame has no duplicates
    parity(pairs.limit(0), Seq("k1", "k2"), 0)
  }

  test("q37: record_count and pass flags equal the separate reference checks") {
    // q37 reads <dir>/orders.parquet: key 2 repeats, one o_custkey is null
    // and one price is above the range, so every check fails
    val dir = java.nio.file.Files.createTempDirectory("graft_q37").toString
    val o = Seq((1L, Option(10L), 100.0), (2L, Option(11L), 200.0),
      (2L, None, 600000.0), (3L, Option(12L), 50.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    o.write.parquet(s"$dir/orders.parquet")
    val q37 = graft.SparkEntry.queries("q37_quality_monitor")(spark, dir)
      .select("record_count", "null_passed", "duplicate_passed", "range_passed",
        "overall_passed")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect().toSeq
    val nulls = DataQuality.checkNulls(o, Seq("o_orderkey", "o_custkey")).passed
    val dups = DataQuality.checkDuplicates(o, Seq("o_orderkey")).passed
    val ranges = DataQuality.checkDataRanges(o,
      Map("o_totalprice" -> ((0.0, 500000.0)))).passed
    assert(q37 == Seq((4L, nulls, dups, ranges, nulls && dups && ranges)))
    assert(q37 == Seq((4L, false, false, false, false)))
  }

  test("nullCheckDF / rangeCheckDF produce per-column rows in one pass") {
    val df = Seq((Option(1), 10.0), (None, -3.0)).toDF("a", "b")
    val nulls = DataQuality.nullCheckDF(df, Seq("a", "b"))
      .as[(String, Long)].collect().toMap
    assert(nulls == Map("a" -> 1L, "b" -> 0L))
    val ranges = DataQuality.rangeCheckDF(df, Seq(("b", 0.0, 100.0)))
      .as[(String, Long)].collect().toMap
    assert(ranges == Map("b" -> 1L))
  }
}
