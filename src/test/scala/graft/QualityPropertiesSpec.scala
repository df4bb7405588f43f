package graft

import graft.quality.DataQuality

/** Property-style tests for the quality checkers (SURVEY.md §5 test plan):
  * injecting k defects must be counted as exactly k, across a spread of k
  * (the scalatest/scalacheck bridge isn't on the offline classpath, so the
  * properties run over an explicit k-grid). */
class QualityPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val ks = Seq(0, 1, 2, 7, 20)

  test("property: k injected nulls => null_count == k") {
    ks.foreach { k =>
      val values: Seq[Option[Int]] =
        Seq.fill(k)(Option.empty[Int]) ++ Seq.tabulate(30)(i => Some(i))
      val r = DataQuality.checkNulls(values.toDF("v"), Seq("v"))
      assert(r.nullCounts("v") == k.toLong, s"k=$k")
      assert(r.passed == (k == 0), s"k=$k")
    }
  }

  test("property: k duplicated rows => duplicate_count == k (total - distinct)") {
    ks.foreach { k =>
      val base = Seq.tabulate(25)(i => s"key$i")
      val df = (base ++ Seq.fill(k)("key0")).toDF("key")
      val r = DataQuality.checkDuplicates(df, Seq("key"))
      assert(r.duplicateCount == k.toLong, s"k=$k")
      // runAllChecks' fused count agrees with the grouped reference
      val fused = DataQuality.runAllChecks(df,
        DataQuality.QualityConfig(keyColumns = Seq("key"))).duplicateCheck.get
      assert(fused == r, s"k=$k")
    }
  }

  test("property: k out-of-range values => out_of_range_count == k") {
    ks.foreach { k =>
      val df = (Seq.fill(k)(1000) ++ Seq.tabulate(30)(i => 300 + i)).toDF("score")
      val r = DataQuality.checkDataRanges(df, Map("score" -> ((0.0, 850.0))))
      assert(r.outOfRangeCounts("score") == k.toLong, s"k=$k")
    }
  }

  test("property: k orphan keys => orphaned_count == k") {
    ks.foreach { k =>
      val pks = Seq.tabulate(20)(i => s"p$i")
      val fks = pks.take(10) ++ Seq.tabulate(k)(i => s"orphan$i")
      val r = DataQuality.checkReferentialIntegrity(
        fks.toDF("fk"), pks.toDF("pk"), "fk", "pk")
      assert(r.orphanedCount == k.toLong, s"k=$k")
    }
  }
}
