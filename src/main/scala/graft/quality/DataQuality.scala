package graft.quality

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Data-quality checks — null / duplicate / range / referential-integrity —
  * mirroring `/root/reference/src/transformation/data_quality.py`.
  *
  * Result shapes match the reference (per-column counts, scalar duplicate
  * count = total - distinct, pass/fail booleans, `run_all_checks`-style
  * aggregate with `overall_passed`).
  *
  * Execution is deliberately NOT the reference's: the reference issues one
  * `count()` action per column per check (`data_quality.py:39,69,103`), i.e.
  * O(columns) full scans of an uncached transform chain. Here every per-column
  * check compiles to `count(when(...))` aggregates in a SINGLE pass, and
  * [[runAllChecks]] fuses record count + null counts + range counts + the
  * duplicate count into one job — one scan of the data regardless of how
  * many checks are configured.
  * At 100 TB that is the difference between 1 scan and ~10.
  */
object DataQuality {

  final case class NullCheck(passed: Boolean, nullCounts: Map[String, Long],
      missingColumns: Seq[String])
  final case class DuplicateCheck(passed: Boolean, duplicateCount: Long)
  final case class RangeCheck(passed: Boolean, outOfRangeCounts: Map[String, Long],
      missingColumns: Seq[String])
  final case class RefIntegrityCheck(passed: Boolean, orphanedCount: Long)

  /** Mirrors config.json `data_quality` blocks
    * (`/root/reference/config/config.json:31-38,48-61,72-84`). */
  final case class QualityConfig(
      tableName: String = "unknown",
      requiredColumns: Seq[String] = Nil,
      keyColumns: Seq[String] = Nil,
      rangeChecks: Map[String, (Double, Double)] = Map.empty)

  final case class QualityResults(
      tableName: String,
      recordCount: Long,
      nullCheck: Option[NullCheck],
      duplicateCheck: Option[DuplicateCheck],
      rangeCheck: Option[RangeCheck],
      overallPassed: Boolean)

  private def nullCountCol(c: String) =
    count(when(col(c).isNull, lit(1))).as(s"null__$c")

  private def rangeCountCol(c: String, lo: Double, hi: Double) =
    count(when(col(c) < lit(lo) || col(c) > lit(hi), lit(1))).as(s"oor__$c")

  /** data_quality.py:22-53 — per-column null counts; single aggregate pass. */
  def checkNulls(df: DataFrame, requiredColumns: Seq[String]): NullCheck = {
    val (present, missing) = requiredColumns.partition(df.columns.contains)
    if (present.isEmpty) return NullCheck(passed = true, Map.empty, missing)
    val row = df.agg(nullCountCol(present.head),
      present.tail.map(nullCountCol): _*).head()
    val counts = present.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
    NullCheck(!counts.values.exists(_ > 0), counts, missing)
  }

  /** data_quality.py:55-81 — duplicate count = total rows - distinct key rows
    * (counts EXTRA rows, not duplicated keys — reference formula preserved,
    * SURVEY.md §2.15.5). One scan: group on the key, then total-vs-groups. */
  def checkDuplicates(df: DataFrame, keyColumns: Seq[String]): DuplicateCheck = {
    val row = df.groupBy(keyColumns.map(col): _*).agg(count(lit(1)).as("cnt"))
      .agg(coalesce(sum("cnt"), lit(0L)).as("total"), count(lit(1)).as("distinct"))
      .head()
    val dup = row.getLong(0) - row.getLong(1)
    DuplicateCheck(dup == 0, dup)
  }

  /** data_quality.py:83-118 — per-column out-of-range counts, single pass. */
  def checkDataRanges(df: DataFrame, ranges: Map[String, (Double, Double)]): RangeCheck = {
    val (present, missing) = ranges.keys.toSeq.partition(df.columns.contains)
    if (present.isEmpty) return RangeCheck(passed = true, Map.empty, missing)
    val aggs = present.map { c => val (lo, hi) = ranges(c); rangeCountCol(c, lo, hi) }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val counts = present.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
    RangeCheck(!counts.values.exists(_ > 0), counts, missing)
  }

  /** data_quality.py:120-156 — orphaned FK detection via distinct + left-anti
    * join. Both sides reduce to distinct keys BEFORE the join, so the join
    * input is bounded by key cardinality, not table size; Catalyst/AQE
    * broadcasts the PK side when small. */
  def checkReferentialIntegrity(df: DataFrame, refDf: DataFrame,
      fkColumn: String, pkColumn: String): RefIntegrityCheck = {
    // aliased to keep the join unambiguous when fk and pk share a name
    val orphans = df.select(col(fkColumn).as("__fk")).distinct()
      .join(refDf.select(col(pkColumn).as("__pk")).distinct(),
        col("__fk") === col("__pk"), "left_anti")
    val n = orphans.count()
    RefIntegrityCheck(n == 0, n)
  }

  /** data_quality.py:158-204 — all configured checks in ONE aggregate
    * job: record count, null counts, range counts and the duplicate count
    * share a single pass over `df`. */
  def runAllChecks(df: DataFrame, cfg: QualityConfig): QualityResults =
    allChecks(df, cfg)()

  /** [[runAllChecks]] in two steps: the fused aggregate is built — and so
    * analysed, plan-time errors included — by this call; the returned
    * function runs it and reads its one row. The duplicate count is
    * `record_count - count(distinct struct(keys))`: a struct is never null,
    * and null fields compare equal in distinct, so it counts the same
    * groups as [[checkDuplicates]]' `groupBy`, null keys included. */
  def allChecks(df: DataFrame, cfg: QualityConfig): () => QualityResults = {
    val (presentNull, missingNull) =
      cfg.requiredColumns.partition(df.columns.contains)
    val (presentRange, missingRange) =
      cfg.rangeChecks.keys.toSeq.partition(df.columns.contains)
    val keys = cfg.keyColumns
    val aggs: Seq[org.apache.spark.sql.Column] =
      count(lit(1)).as("record_count") +:
        (presentNull.map(nullCountCol) ++
          presentRange.map { c => val (lo, hi) = cfg.rangeChecks(c); rangeCountCol(c, lo, hi) } ++
          Option.when(keys.nonEmpty)(
            count_distinct(struct(keys.map(col): _*)).as("distinct_keys")))
    val checks = df.agg(aggs.head, aggs.tail: _*)
    () => {
      val row: Row = checks.head()
      val recordCount = row.getLong(0)
      def counts(cols: Seq[String], from: Int) =
        cols.zipWithIndex.map { case (c, i) => c -> row.getLong(from + i) }.toMap
      val nullCounts = counts(presentNull, 1)
      val rangeCounts = counts(presentRange, 1 + presentNull.size)

      val nullCheck = Option.when(cfg.requiredColumns.nonEmpty)(
        NullCheck(!nullCounts.values.exists(_ > 0), nullCounts, missingNull))
      val dupCheck = Option.when(keys.nonEmpty) {
        val dup = recordCount - row.getLong(aggs.size - 1)
        DuplicateCheck(dup == 0, dup)
      }
      val rangeCheck = Option.when(cfg.rangeChecks.nonEmpty)(
        RangeCheck(!rangeCounts.values.exists(_ > 0), rangeCounts, missingRange))

      val overall = Seq(nullCheck.map(_.passed), dupCheck.map(_.passed),
        rangeCheck.map(_.passed)).flatten.forall(identity)
      QualityResults(cfg.tableName, recordCount, nullCheck, dupCheck, rangeCheck, overall)
    }
  }

  // ----- DataFrame-shaped variants (for the oracle-checked query surface) ---

  /** (column_name, null_count) rows — same numbers as [[checkNulls]], kept as
    * a declarative plan so it can be oracle-compared. Single pass + stack. */
  def nullCheckDF(df: DataFrame, columns: Seq[String]): DataFrame = {
    val aggRow = df.agg(nullCountCol(columns.head), columns.tail.map(nullCountCol): _*)
    val stackArgs = columns.map(c => s"'$c', `null__$c`").mkString(", ")
    aggRow.selectExpr(s"stack(${columns.size}, $stackArgs) as (column_name, null_count)")
  }

  /** (column_name, out_of_range_count) rows, single pass. */
  def rangeCheckDF(df: DataFrame, ranges: Seq[(String, Double, Double)]): DataFrame = {
    val aggs = ranges.map { case (c, lo, hi) => rangeCountCol(c, lo, hi) }
    val aggRow = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = ranges.map { case (c, _, _) => s"'$c', `oor__$c`" }.mkString(", ")
    aggRow.selectExpr(s"stack(${ranges.size}, $stackArgs) as (column_name, out_of_range_count)")
  }

  /** One-row table profile in a SINGLE scan: row count plus per-column
    * non-null counts, exact distinct counts, and numeric min/max/avg
    * (avg rounded for cross-engine determinism). Multiple exact
    * countDistincts in one aggregate plan through Spark's Expand (each
    * input row fans out once per distinct aggregate) — a deliberate trade:
    * at profile cardinalities the map-side Expand+partial-agg beats N
    * separate full scans, and unlike approx_count_distinct the result is
    * oracle-reproducible. Monitoring companion to [[runAllChecks]]
    * (same one-scan discipline the reference's per-column count() loops
    * lack). */
  def profile(df: DataFrame, distinctCols: Seq[String],
      numericCols: Seq[String]): DataFrame = {
    val aggs =
      Seq(count(lit(1)).as("n_rows")) ++
        distinctCols.flatMap(c => Seq(
          count(col(c)).as(s"${c}_nonnull"),
          countDistinct(col(c)).as(s"${c}_distinct"))) ++
        numericCols.flatMap(c => Seq(
          min(col(c)).as(s"${c}_min"),
          max(col(c)).as(s"${c}_max"),
          round(avg(col(c)), 6).as(s"${c}_avg")))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Benford's-law expected leading-digit probabilities log10(1 + 1/d),
    * d = 1..9 — exposed as JVM doubles so oracle SQL embeds the
    * IDENTICAL shortest-repr literals (the
    * [[graft.ops.Similarity.ndcgDiscounts]] convention). */
  def benfordExpected: Seq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /** Benford's-law leading-digit profile of an amount column — the
    * classic fabricated-numbers screen (naturally occurring amounts
    * spanning magnitudes follow log10(1 + 1/d); invented or capped
    * figures don't): per digit 1..9, the observed count/fraction, the
    * Benford expectation, and the chi-square contribution
    * (obs − n·p)²/(n·p) — rank digits by it to see WHERE a ledger
    * deviates. Rows whose amount has no nonzero digit (exact zeros,
    * nulls) are excluded from n, and all nine digit rows are always
    * emitted (a digit NOBODY uses is the loudest signal).
    *
    * Determinism contract: the leading digit comes from the
    * DECIMAL(18,2) string form (engine-stable formatting, unlike raw
    * double repr), expectations are fixed JVM literals, and the
    * chi-square arithmetic is a fixed-order double expression — every
    * cell replays cross-engine. Scale shape: one map-only digit
    * extraction into ONE 9-group aggregate (map-side partials), the
    * scalar total on a broadcast. */
  def benfordProfile(df: DataFrame, valueCol: String): DataFrame = {
    val lead = regexp_extract(
      col(valueCol).cast("decimal(18,2)").cast("string"), "[1-9]", 0)
    val digits = df.select(lead.as("__ld"))
      .filter(col("__ld") =!= "")
      .select(col("__ld").cast("int").as("digit"))
    val counts = digits.groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val total = digits.agg(count(lit(1)).as("__n"))
    val expected = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"),
        element_at(array(benfordExpected.map(lit): _*),
          col("id").cast("int")).as("__p"))
    val nD = col("__n").cast("double")
    val obsD = col("n_obs").cast("double")
    val e = nD * col("__p")
    expected.join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("n_obs"))
      .crossJoin(broadcast(total))
      .select(col("digit"), col("n_obs"),
        round(obsD / nD, 6).as("obs_frac"),
        round(col("__p"), 6).as("exp_frac"),
        round((obsD - e) * (obsD - e) / e, 6).as("chi2_term"))
  }
}
