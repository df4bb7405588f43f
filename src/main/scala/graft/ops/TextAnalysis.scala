package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting.
  *
  * Beyond reference scope (the reference has no string functions at all,
  * SURVEY.md §2.11) — these are the LLM-data-pipeline extensions. Everything
  * is built-in `Column` functions (split / transform / filter / aggregate /
  * xxhash64): per-row, shuffle-free, whole-stage-codegen'd — embarrassingly
  * parallel at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokenizer; empty string -> empty array (split of "" yields
    * one empty token, which we filter). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** The engine-portability rounding rule shared by every driver-side
    * model-state value (logreg weights, DSIR log-probs, MMR scores):
    * 6dp HALF_UP, identical to SQL ROUND — one definition so the
    * cross-engine oracle contract cannot silently diverge per operator. */
  private[graft] def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exact HALF_UP mean (6dp) of a column whose values are ALREADY on
    * the 6dp grid (round6 outputs, 0/1 labels): sums the values as
    * exact micro-unit longs and rounds the mean half-up in INTEGER
    * arithmetic — `sign * floor((2*|s| + n) / (2n))` micro-units. Why
    * not `round(avg(c), 6)`: the mean of n 6dp values is a rational
    * with denominator n·10⁶ that lands EXACTLY on the half grid
    * constantly (any two values whose sum has an odd 7th digit), and
    * there `round`-on-double diverges between engines — Spark rounds
    * the shortest decimal repr of the quotient, other engines round
    * the binary value, so (0.251630+0.251631)/2 rounds to .251631 in
    * Spark and .251630 in DuckDB. Integer arithmetic has no such
    * boundary: both engines compute the identical long. Order-
    * independent (long sums commute); the final /10⁶ is one IEEE
    * division of a small-integer double, bit-identical everywhere.
    * Bounds: needs |Σ micro-units| < 2⁵² (values ≤ 1 ⇒ fine past 10⁹
    * rows per group; a corpus-sized group of larger scores should
    * pre-aggregate). Aggregate expression — use inside `agg`. */
  private[graft] def mean6Exact(c: Column): Column = {
    val s = sum(round(c * 1e6).cast("long"))
    val n = count(lit(1))
    val sgn = when(s < 0, lit(-1L)).otherwise(lit(1L))
    val m = floor((sgn * s * 2 + n).cast("double") / (n * 2).cast("double"))
    (sgn * m).cast("double") / lit(1e6)
  }

  /** BPE-ish subword-count estimate: words plus intra-word transitions
    * (letter/digit boundaries, punctuation starts) — a cheap regex proxy
    * for tokenizer load, no vocab needed. MATCH-based and RE2-compatible
    * (a subword is a letter run, a digit run, or a punctuation char with
    * its trailing letter-or-digit run) — provably segment-for-segment equal
    * to the lookaround-split formulation (pinned by spec), but expressible
    * in every regex engine, which is what lets the DuckDB oracle check
    * x14 instead of a rows-only pass. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[^a-zA-Z0-9\\s](?:[a-zA-Z]+|[0-9]+)?|[a-zA-Z]+|[0-9]+"), lit(0)))

  private val stopwords = Seq("the", "a", "an", "of", "to", "and", "in", "is")

  /** Per-document quality metrics (length / punctuation / stopword / alpha
    * ratios) + a composite score in [0,1]. Heuristics follow the C4/Gopher
    * quality-filter style (ratio thresholds).
    *
    * Shape: ONE native [[graft.functions.TokenProfile]] pass per row
    * computes all token-level counts — no explode, no doc-id exchange, no
    * join-back (the former explode+aggregate+join formulation is kept as
    * [[qualityMetricsAgg]] and pinned value-identical by spec). A
    * `withColumn` tower of `size(filter(tokens(...)))` expressions would
    * re-evaluate the interpreted tokenizer per derived column; the profile
    * expression is a per-row primitive loop, cheap even if projection
    * collapse duplicates the struct access. `nonspace_len` (summed token
    * lengths) equals the non-space character count because tokens are
    * exactly the maximal non-space runs. */
  def qualityMetrics(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val prof = graft.functions.TokenProfileFunctions
      .token_profile(tokens(t), Seq(stopwords))
    finishQualityColumns(
      df.withColumn("__qp", prof)
        .withColumn("token_cnt", col("__qp.token_cnt"))
        .withColumn("nonspace_len", col("__qp.nonspace_len"))
        .withColumn("stopword_cnt", element_at(col("__qp.hits"), 1))
        .drop("__qp"), t)
  }

  /** Derived ratio/score columns shared by both quality formulations. */
  private def finishQualityColumns(df: DataFrame, t: Column): DataFrame =
    df.withColumn("char_len", length(t))
      .withColumn("avg_token_len",
        when(col("token_cnt") > 0,
          col("nonspace_len").cast("double") / col("token_cnt"))
          .otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(col("token_cnt") > 0,
          col("stopword_cnt").cast("double") / col("token_cnt"))
          .otherwise(lit(0.0)))
      .withColumn("punct_cnt",
        length(t) - length(regexp_replace(t, "[\\p{Punct}]", "")))
      .withColumn("punct_ratio",
        when(length(t) > 0, col("punct_cnt").cast("double") / length(t))
          .otherwise(lit(0.0)))
      .withColumn("alpha_ratio",
        when(length(t) > 0,
          length(regexp_replace(t, "[^a-zA-Z]", "")).cast("double") / length(t))
          .otherwise(lit(0.0)))
      .withColumn("quality_score",
        round(greatest(lit(0.0), least(lit(1.0),
          lit(0.4) * least(col("token_cnt").cast("double") / 50.0, lit(1.0))
            + lit(0.3) * col("alpha_ratio")
            + lit(0.2) * least(col("stopword_ratio") * 5.0, lit(1.0))
            + lit(0.1) * (lit(1.0) - least(col("punct_ratio") * 5.0, lit(1.0))))), 6))
      .drop("nonspace_len")

  /** The explode + aggregate + join-back formulation — the cross-check
    * reference for [[qualityMetrics]] (same values, two extra operators
    * and a shuffle). */
  private[graft] def qualityMetricsAgg(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val tokStats = df
      .select(col(idCol).as("__qid"), explode_outer(tokens(t)).as("tok"))
      .groupBy(col("__qid"))
      .agg(count(col("tok")).cast("int").as("token_cnt"),
        coalesce(sum(length(col("tok"))), lit(0L)).as("nonspace_len"),
        coalesce(sum(when(lower(col("tok")).isin(stopwords: _*), 1)
          .otherwise(0)), lit(0L)).cast("int").as("stopword_cnt"))
    val joined = df.join(tokStats, col(idCol) === col("__qid"), "left").drop("__qid")
      .withColumn("token_cnt", coalesce(col("token_cnt"), lit(0)))
      .withColumn("stopword_cnt", coalesce(col("stopword_cnt"), lit(0)))
      .withColumn("nonspace_len", coalesce(col("nonspace_len"), lit(0L)))
    finishQualityColumns(joined, t)
  }

  // PII patterns kept RE2-compatible (no lookarounds) so the same regexes
  // run in Spark (Java regex) and any RE2-based engine verifying results
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b"
  private val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Per-document PII counts (emails / phone numbers / bare IPv4s) — the
    * detection half of a scrub stage. Pure per-row regex work: shuffle-free,
    * embarrassingly parallel at corpus scale. */
  def piiStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // Column-API regexp_extract_all (not expr()): SQL string literals eat
    // backslashes, silently turning \. into . — the column form passes the
    // pattern through verbatim
    df.withColumn("n_emails", size(regexp_extract_all(t, lit(emailRe), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(t, lit(phoneRe), lit(0))))
      .withColumn("n_ipv4s", size(regexp_extract_all(t, lit(ipv4Re), lit(0))))
  }

  /** Redact PII in place: emails -> [EMAIL], phones -> [PHONE], IPv4 ->
    * [IP]. Order matters: phone before IPv4 (an IPv4 can't match the phone
    * pattern, but dotted phone variants could half-match IPv4 first). */
  def scrubPii(df: DataFrame, textCol: String = "text",
      outCol: String = "scrubbed"): DataFrame =
    df.withColumn(outCol,
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), emailRe, "[EMAIL]"),
          phoneRe, "[PHONE]"),
        ipv4Re, "[IP]"))

  // Extended PII patterns — still RE2-compatible (no lookarounds). The
  // grouping shapes are mutually exclusive (SSN 3-2-4, card 4x4, intl
  // phone +CC with 2-4 digit groups, US phone 3-3/4-4), so scrub order
  // between them does not matter; card runs before the US-phone/IPv4
  // passes anyway so digit runs are consumed whole.
  private val ssnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  private val cardRe = "\\b\\d{4}[- ]?\\d{4}[- ]?\\d{4}[- ]?\\d{4}\\b"
  private val intlPhoneRe = "\\+\\d{1,3}[- ]\\d{2,4}[- ]\\d{3,4}[- ]\\d{3,4}\\b"

  /** Extended detection: SSNs, 16-digit card candidates (with the subset
    * passing the Luhn checksum — Spark's codegen'd `luhn_check` over the
    * separator-stripped digits), and international `+CC ...` phone
    * numbers. Same scale shape as [[piiStats]]: per-row regex + one
    * array filter, shuffle-free. */
  def piiStatsExtended(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val cards = regexp_extract_all(t, lit(cardRe), lit(0))
    df.withColumn("n_ssns", size(regexp_extract_all(t, lit(ssnRe), lit(0))))
      .withColumn("n_cards", size(cards))
      .withColumn("n_valid_cards", size(filter(cards,
        c => call_function("luhn_check", regexp_replace(c, "[- ]", "")))))
      .withColumn("n_intl_phones",
        size(regexp_extract_all(t, lit(intlPhoneRe), lit(0))))
  }

  /** Full-surface redaction: [[scrubPii]]'s three patterns plus SSN ->
    * [SSN], card -> [CARD], international phone -> [INTL_PHONE]. Cards are
    * scrubbed without a Luhn gate — redaction favors recall; validity
    * counting is [[piiStatsExtended]]'s job. */
  def scrubPiiExtended(df: DataFrame, textCol: String = "text",
      outCol: String = "scrubbed"): DataFrame =
    df.withColumn(outCol,
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(col(textCol), emailRe, "[EMAIL]"),
                cardRe, "[CARD]"),
              ssnRe, "[SSN]"),
            intlPhoneRe, "[INTL_PHONE]"),
          phoneRe, "[PHONE]"),
        ipv4Re, "[IP]"))

  /** C4-style boilerplate/heuristic filters (Raffel et al. '20 §2.2 rules,
    * adapted): word-count bounds plus curly-brace (code) / "lorem ipsum" /
    * javascript-boilerplate detection composed into a `keep` flag.
    * `ends_terminal` is emitted as an ADVISORY signal, deliberately NOT
    * part of `keep`: C4 applies the terminal-punctuation rule per LINE
    * before document assembly — at document level it would reject whole
    * legitimate documents for one unpunctuated ending, so callers wanting
    * C4's exact behavior apply it to lines and get the column here for
    * scoring/debugging. Pure per-row RE2-compatible regex + token count —
    * shuffle-free, embarrassingly parallel, fully replicable by a SQL
    * oracle. */
  def boilerplateFilters(df: DataFrame, textCol: String = "text",
      minWords: Int = 5, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    df.withColumn("word_cnt", tokenCount(t))
      .withColumn("ends_terminal", t.rlike("[.!?\"']\\s*$"))
      .withColumn("has_curly", t.contains("{"))
      .withColumn("has_lorem", lower(t).contains("lorem ipsum"))
      .withColumn("has_js_boilerplate",
        lower(t).rlike("enable javascript|javascript is required|cookies enabled"))
      .withColumn("keep",
        col("word_cnt") >= minWords && col("word_cnt") <= maxWords &&
          !col("has_curly") && !col("has_lorem") && !col("has_js_boilerplate"))
  }

  /** Benchmark-contamination screen (decontamination primitive): per
    * document, the fraction of its distinct n-gram shingles that appear
    * anywhere in the benchmark corpus. Shape: explode doc shingles once,
    * LEFT-join the distinct benchmark shingle set (Catalyst broadcasts it
    * when small; hash-shuffles on the shingle otherwise — either way no
    * doc-x-benchmark cross join), one grouped aggregate. At 100 TB the
    * benchmark side is tiny (eval sets), so this is broadcast + one pass. */
  def contamination(docs: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int = 3, hashed: Boolean = true): DataFrame = {
    // hashed=true (default): native ShingleHashes longs -- the corpus-scale
    // path (no w-gram strings materialized; the interpreted string-shingle
    // HOF measured ~7x slower at sf0.1). hashed=false keeps exact string
    // shingles for cross-engine verification; a 64-bit hash collision is
    // the only behavioral difference.
    def shingleExpr: Column =
      if (hashed) graft.functions.ShingleFunctions
        .shingle_hashes(tokens(col(textCol)), n)
      else Dedup.shingles(tokens(col(textCol)), n)
    def sh(df: DataFrame, cols: Column*): DataFrame =
      df.select(cols :+ explode(array_distinct(shingleExpr)).as("__sh"): _*)
    val docSh = sh(docs, col(idCol))
    val benchSh = sh(benchmark).select(col("__sh")).distinct()
      .withColumn("__hit", lit(1))
    docSh.join(benchSh, Seq("__sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
      .withColumn("contamination",
        round(col("n_hits").cast("double") / col("n_shingles"), 6))
  }

  /** Gopher quality rules (Rae et al. 2021, Appendix A) — the rule
    * bundle MassiveText filters with, distinct from C4's
    * ([[boilerplateFilters]]) and from the ratio metrics
    * [[qualityMetrics]] reports: mean word length in [3, 10], symbol-
    * to-word ratio (# and ellipsis) ≤ 0.1, < 90% of lines starting
    * with a bullet, < 30% ending with an ellipsis, ≥ 80% of words
    * containing an alphabetic character, and the word-count window
    * [minWords, maxWords]. Each rule lands as its own measured column
    * (curation reports tune thresholds per corpus) plus the combined
    * `gopher_pass` at the paper's defaults. The stopword rule is
    * [[qualityMetrics]]' stopword_cnt (compose the two frames); the
    * repetition rules are [[repetitionStats]].
    *
    * Map-only per-row string/array expressions — shuffle-free,
    * embarrassingly parallel, SQL-replayable (ellipsis matched in both
    * its Unicode and three-dot spellings; "bullet" = -, *, or the
    * Unicode bullet, leading whitespace allowed). */
  def gopherQualityRules(df: DataFrame, textCol: String = "text",
      minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    gopherFinish(df.withColumn("__gp",
        graft.functions.GopherFunctions.gopher_counts(col(textCol))),
      col("__gp.n_words"),
      col("__gp.word_len_sum"),
      col("__gp.n_sym"),
      col("__gp.n_lines"),
      col("__gp.n_bullet"),
      col("__gp.n_ellipsis"),
      col("__gp.n_alpha"),
      minWords, maxWords).drop("__gp")

  /** The builtin-function spelling of [[gopherQualityRules]] — the
    * cross-check reference, pinned value-identical by spec (same ratio
    * layer, so the only difference under test is the count source:
    * [[graft.functions.GopherCounts]] vs split/HOF/rlike subtrees). The
    * native expression exists because projection collapse duplicates
    * these interpreted subtrees into every derived column — the 10M-doc
    * corpus smoke priced this spelling at 508s vs ~10s-class for one
    * primitive pass (BASELINE.md r11). */
  private[graft] def gopherQualityRulesHof(df: DataFrame,
      textCol: String = "text",
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nW = size(toks)
    val meanLenSum =
      aggregate(toks, lit(0L), (acc, w) => acc + length(w))
    // symbol OCCURRENCES: each '#', each Unicode ellipsis, and each RUN
    // of >= 3 dots counts once (a 5-dot run is one ellipsis, not two)
    val nSym = size(split(t, "#", -1)) - 1 +
      (size(split(t, "…", -1)) - 1) +
      size(filter(split(t, "[^.]+"), s => length(s) >= 3))
    val lines = filter(split(t, "\n"), l => length(trim(l)) > 0)
    val nLines = size(lines)
    val nBullet = size(filter(lines, l => trim(l).rlike("^[-*•]")))
    val nEllipsis = size(filter(lines, l =>
      trim(l).rlike("(\\.\\.\\.|…)$")))
    val nAlpha = size(filter(toks, w => w.rlike("[a-zA-Z]")))
    gopherFinish(df, nW, meanLenSum, nSym, nLines, nBullet, nEllipsis,
      nAlpha, minWords, maxWords)
  }

  /** Shared ratio/rounding layer for both Gopher formulations — one
    * definition so the double math and null propagation (null text ->
    * null counts -> `when` falls to its 0.0 otherwise-leg, null
    * `n_words`, three-valued `gopher_pass`) cannot diverge between the
    * native and builtin spellings. */
  private def gopherFinish(df: DataFrame, nW: Column, wordLenSum: Column,
      nSym: Column, nLines: Column, nBullet: Column, nEllipsis: Column,
      nAlpha: Column, minWords: Int, maxWords: Int): DataFrame = {
    val meanLen = when(nW > 0,
      wordLenSum.cast("double") / nW).otherwise(lit(0.0))
    val bulletFrac = when(nLines > 0,
      nBullet.cast("double") / nLines).otherwise(lit(0.0))
    val ellipsisFrac = when(nLines > 0,
      nEllipsis.cast("double") / nLines).otherwise(lit(0.0))
    val alphaFrac = when(nW > 0,
      nAlpha.cast("double") / nW).otherwise(lit(0.0))
    df.withColumn("n_words", nW.cast("long"))
      .withColumn("mean_word_len", round(meanLen, 6))
      .withColumn("symbol_ratio",
        round(when(nW > 0, nSym.cast("double") / nW).otherwise(lit(0.0)), 6))
      .withColumn("bullet_line_frac", round(bulletFrac, 6))
      .withColumn("ellipsis_line_frac", round(ellipsisFrac, 6))
      .withColumn("alpha_word_frac", round(alphaFrac, 6))
      .withColumn("gopher_pass",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= 3 && col("mean_word_len") <= 10 &&
          col("symbol_ratio") <= 0.1 &&
          col("bullet_line_frac") < 0.9 &&
          col("ellipsis_line_frac") < 0.3 &&
          col("alpha_word_frac") > 0.8)
  }

  /** Blocklist (C4 "badwords") content filter — the wordlist stage C4
    * runs alongside its structural rules ([[boilerplateFilters]] covers
    * those): a document is dropped when it contains ANY term from a
    * caller-supplied list. Single-word terms match whole lowercased
    * TOKENS (no substring false positives — "class" never trips a
    * hypothetical "ass" entry); multi-word terms match as phrases on the
    * space-joined lowercased token stream (so irregular whitespace
    * between the words still matches). Emits `n_blocked_tokens`
    * (occurrence count, not distinct), `n_blocked_phrases` (one per
    * matching phrase term), and the `blocked` flag — counts stay in the
    * output so a curation report can rank offenders rather than just
    * drop rows.
    *
    * Scale shape: map-only — the (small, config-sized) term list burns
    * into the plan as literals; no join, no shuffle, engine-portable
    * (the oracle replays token and phrase matching in SQL). The list is
    * operator CONFIG like [[languageId]]'s profiles: ship your own
    * (e.g. the LDNOOBW lists) — the library hardcodes no vocabulary. */
  def blocklistFilter(df: DataFrame, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "need at least one blocklist term")
    val norm = terms.map(_.trim.toLowerCase).filter(_.nonEmpty)
    val single = norm.filter(!_.contains(" ")).distinct
    val phrases = norm.filter(_.contains(" ")).distinct
    val toksL = tokens(lower(col(textCol)))
    val nTok: Column =
      if (single.isEmpty) lit(0)
      else size(filter(toksL, t =>
        array_contains(array(single.map(lit(_)): _*), t)))
    // padded so phrase matches respect TOKEN boundaries ("embad
    // phraseology" must not trip "bad phrase")
    val joined = concat(lit(" "), concat_ws(" ", toksL), lit(" "))
    val nPhrase: Column =
      if (phrases.isEmpty) lit(0)
      else phrases.map(p =>
        when(joined.contains(s" $p "), 1).otherwise(0)).reduce(_ + _)
    df.withColumn("n_blocked_tokens", nTok.cast("long"))
      .withColumn("n_blocked_phrases", nPhrase.cast("long"))
      .withColumn("blocked",
        col("n_blocked_tokens") > 0 || col("n_blocked_phrases") > 0)
  }

  /** [[blocklistFilter]]'s SCALE path: identical columns and match
    * semantics (spec-pinned frame-equal), but ONE Aho–Corasick automaton
    * scan per document instead of the per-phrase `contains` chain and
    * per-token literal-array membership — O(len + matches) per document
    * regardless of blocklist size, where the reference formulation is
    * O(terms). Production blocklists (URL lists, safety term lists) run
    * to tens of thousands of terms; at that size this is the difference
    * between a map-only codegen'd projection and an unrunnable stage.
    * The automaton rides the plan as a reference object (model state,
    * the PQ-codebook convention). Keep [[blocklistFilter]] for small
    * lists — it is the oracle-replayable reference formulation. */
  def blocklistFilterScaled(df: DataFrame, textCol: String,
      terms: Seq[String]): DataFrame = {
    import graft.functions.MultiPatternFunctions.multi_pattern_stats
    df.withColumn("__b", multi_pattern_stats(col(textCol), terms))
      .withColumn("n_blocked_tokens", col("__b.n_blocked_tokens"))
      .withColumn("n_blocked_phrases", col("__b.n_blocked_phrases"))
      .withColumn("blocked", col("__b.blocked"))
      .drop("__b")
  }

  /** Bloom-filter contamination screen — [[contamination]]'s MAP-ONLY
    * scale path: the benchmark's distinct shingle-hash set is folded
    * into a driver-built Bloom filter that rides to executors as plan
    * state, and each document answers "might any of my shingles be
    * benchmark shingles?" with zero exchanges — where the exact
    * screen's hit-join, broadcast or not, still moves every doc shingle
    * through a join operator. The error is one-sided: false POSITIVES
    * flag clean documents (route them to the exact [[contamination]]
    * re-check, or accept the over-removal); false negatives cannot
    * happen, so the screen never leaks a contaminated document (pinned
    * by spec against the exact join).
    *
    * SIZE `fpp` FOR THE DOCUMENT, NOT THE QUERY: the filter's fpp is
    * per MEMBERSHIP PROBE, and a k-shingle document compounds it to
    * ~k·fpp doc-level false-positive odds — at fpp=0.01 a 100-shingle
    * document is falsely flagged ~63% of the time (measured on the
    * first x107 cut: the naive 1% default flagged most of the corpus).
    * The default 1e-6 puts a ~100-shingle doc at ~1e-4 — and Bloom
    * bits grow only LOGARITHMICALLY in 1/fpp (~2.9 bytes/item at 1e-6
    * vs ~1.2 at 1e-2), so the stricter setting costs ~2.4x space, not
    * 1e4x: ~2.9 MB per million benchmark shingles. Output: one row per
    * doc — (id, n_shingles, maybe_contaminated). */
  def contaminationBloom(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      fpp: Double = 1e-6): DataFrame =
    screenWithBloom(docs, textCol,
      benchmarkBloom(benchmark, textCol, n, fpp), n)

  /** Build the benchmark's Bloom filter once — the reusable training-side
    * artifact ([[graft.streaming.EventStreams.bloomScreenSink]] carries it
    * across the batch/stream seam the way the classifier gate carries its
    * weights). Benchmark-sized actions only: an exact count sizes the
    * filter, one pass folds the distinct shingle hashes in. */
  def benchmarkBloom(benchmark: DataFrame, textCol: String, n: Int = 3,
      fpp: Double = 1e-6): org.apache.spark.util.sketch.BloomFilter = {
    val benchSh = benchmark
      .select(explode(array_distinct(graft.functions.ShingleFunctions
        .shingle_hashes(tokens(col(textCol)), n))).as("__sh")).distinct()
    val m = math.max(benchSh.count(), 1L)
    benchSh.stat.bloomFilter("__sh", m, fpp)
  }

  /** Apply a prebuilt benchmark filter — the map-only screen itself. */
  def screenWithBloom(docs: DataFrame, textCol: String,
      bloom: org.apache.spark.util.sketch.BloomFilter, n: Int = 3): DataFrame =
    docs
      // projection boundary: shingles computed ONCE per row, consumed by
      // both the size and the membership loop
      .withColumn("__shs", array_distinct(graft.functions.ShingleFunctions
        .shingle_hashes(tokens(col(textCol)), n)))
      .withColumn("n_shingles", size(col("__shs")).cast("long"))
      .withColumn("maybe_contaminated",
        graft.functions.BloomFunctions.bloom_any_contain(col("__shs"), bloom))
      .drop("__shs")

  /** Paragraph-level decontamination — the REMOVAL counterpart of
    * [[contamination]]'s detection: drop every paragraph that shares an
    * n-gram with the benchmark corpus and reassemble the survivors
    * (span excision at paragraph granularity — dropping the whole doc
    * throws away everything that ISN'T the quoted eval question).
    * Returns (id, n_paras, n_removed, text), text rebuilt from surviving
    * paragraphs in position order (empty when every paragraph was hit —
    * the row is kept so stats and downstream length filters see it).
    *
    * Scale shape: paragraphs and their n-grams are map-side explodes
    * (paragraph TEXT is not carried through the shingle explode — only
    * (id, pos) keys ride it); the hit test is a semi-join against the
    * DISTINCT benchmark shingle set (eval suites are tiny — broadcast,
    * never a doc×benchmark cross join); reassembly is ONE grouped
    * aggregate keyed on the doc id with the in-row position sort of
    * [[Dedup.reassembleKept]], so paragraph text rides that exchange as
    * values, never as a key. `hashed` as in [[contamination]]: native
    * 8-byte shingle hashes for the corpus path, string shingles for
    * cross-engine verification (identical decisions barring a ~2^-64
    * collision). */
  def decontaminateParagraphs(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3, sep: String = "\n\n",
      hashed: Boolean = true): DataFrame = {
    def shingleExpr(c: Column): Column =
      if (hashed) graft.functions.ShingleFunctions.shingle_hashes(tokens(c), n)
      else Dedup.shingles(tokens(c), n)
    val paras = docs.select(col(idCol).as("id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "para")))
    val paraSh = paras.select(col("id"), col("pos"),
      explode(array_distinct(shingleExpr(col("para")))).as("__sh"))
    val benchSh = benchmark
      .select(explode(array_distinct(shingleExpr(col(textCol)))).as("__sh"))
      .distinct()
    val contam = paraSh.join(broadcast(benchSh), Seq("__sh"), "left_semi")
      .select(col("id"), col("pos")).distinct()
      .withColumn("__c", lit(1))
    paras.join(contam, Seq("id", "pos"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_paras"),
        sum(when(col("__c").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        // collect_list skips the nulls when() emits for removed paras
        array_join(transform(
          array_sort(collect_list(
            when(col("__c").isNull, struct(col("pos"), col("para"))))),
          s => s.getField("para")), sep).as("text"))
  }

  /** Gopher-style repetition metrics: per-document n-gram totals, distinct
    * counts, and repetition fraction (1 - distinct/total). Pure per-row
    * array expressions — shuffle-free, embarrassingly parallel. */
  def repetitionStats(df: DataFrame, textCol: String = "text",
      n: Int = 2, hashed: Boolean = true): DataFrame = {
    // see [[contamination]] for the hashed-vs-string trade
    val sh =
      if (hashed) graft.functions.ShingleFunctions
        .shingle_hashes(tokens(col(textCol)), n)
      else Dedup.shingles(tokens(col(textCol)), n)
    df.withColumn("n_ngrams", size(sh))
      .withColumn("n_distinct_ngrams", size(array_distinct(sh)))
      .withColumn("repetition",
        when(col("n_ngrams") > 0,
          round(lit(1.0) - col("n_distinct_ngrams").cast("double") /
            col("n_ngrams"), 6)).otherwise(lit(0.0)))
  }

  /** Gopher REPETITION rules (Rae et al. '21 Appendix A1's second
    * table — the 13 repetition thresholds, distinct from the
    * style/lexical bundle in [[gopherQualityRules]] and from
    * [[repetitionStats]]' single generic fraction): per document,
    *  - duplicate line / paragraph FRACTION (duplicate occurrences
    *    over total units) with thresholds 0.30 / 0.30,
    *  - duplicate line / paragraph CHARACTER fraction (characters in
    *    occurrences beyond each unit's first, over text length) with
    *    thresholds 0.20 / 0.20,
    *  - top 2/3/4-gram character fraction (the most frequent n-gram's
    *    occurrences × its joined length over normalized text length)
    *    with thresholds 0.20 / 0.18 / 0.16,
    *  - duplicated 5..10-gram character fraction with thresholds
    *    0.15 / 0.14 / 0.13 / 0.12 / 0.11 / 0.10,
    * plus the combined `repetition_pass`.
    *
    * Pinned semantics (the paper does not publish exact accounting;
    * every choice below is deterministic and replayed by the oracle):
    * duplicate-char fractions count (count − 1) × unit length per
    * distinct unit — occurrences beyond the first; n-gram character
    * length is the single-space-joined gram's length and the
    * denominator is the single-space-joined token stream's length, so
    * overlapping occurrences can double-count characters and the
    * duplicated-gram fractions are therefore CAPPED at 1.0 (position-
    * coverage accounting — marking each character once — is a per-row
    * DP; the cap keeps this a relational aggregate, and the threshold
    * comparisons live far below the cap); the top n-gram breaks count
    * ties by the LARGEST (count, gram) pair so the winner replays
    * cross-engine, and a top gram occurring only ONCE scores 0 — a
    * single occurrence is not repetition, and without the exemption
    * every short document fails on its own longest phrase; documents
    * with fewer than n tokens contribute no n-grams and score 0 on
    * that rule (no evidence ⇒ pass, the [[gopherQualityRules]]
    * convention).
    *
    * Scale shape: the gram statistics are DOC-LOCAL (every n-gram
    * belongs to exactly one document), so they run as ONE native
    * per-row pass ([[graft.functions.GopherGramStats]]) — no explode,
    * no shuffle, no interpreted gram strings. The relational spelling
    * this replaced spent 7.3s of x179's 8.7s building ~4M gram strings
    * through interpreted HOFs and shuffled them twice (r13 JobProfile);
    * it survives as [[gopherRepetitionRulesHof]], pinned value-identical
    * by spec (the GopherCounts convention). The two unit legs (lines,
    * paragraphs) explode and collapse through a (doc, unit)-keyed count
    * with map-side partials and a doc-keyed rollup — narrow rows, text
    * never rides a shuffle key wider than the unit being counted; the
    * final assembly is doc-keyed joins of doc-sized frames. Output:
    * idCol, the 13 fractions (6dp), repetition_pass. */
  def gopherRepetitionRules(df: DataFrame, idCol: String,
      textCol: String = "text"): DataFrame =
    repetitionRulesImpl(df, idCol, textCol, nativeGrams = true)

  /** The builtin-function spelling of [[gopherRepetitionRules]]'s gram
    * leg (tagged explode -> (id, n, gram) count -> per-doc pivot) —
    * kept as the spec twin that pins the native expression's exact
    * accounting, exactly as `gopherQualityRulesHof` pins
    * [[graft.functions.GopherCounts]]. Not a production path. */
  private[graft] def gopherRepetitionRulesHof(df: DataFrame, idCol: String,
      textCol: String = "text"): DataFrame =
    repetitionRulesImpl(df, idCol, textCol, nativeGrams = false)

  private def repetitionRulesImpl(df: DataFrame, idCol: String,
      textCol: String, nativeGrams: Boolean): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val base = Caching.scoped(df.select(col(idCol), col(textCol)))
    // unit leg: (id, unit) counts -> per-doc totals + duplicate shares
    def unitLeg(sep: String, pfx: String) = {
      val units = base.select(col(idCol),
          explode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
            .as("__u"))
        .filter(length(trim(col("__u"))) > 0)
      units.groupBy(col(idCol), col("__u"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col(idCol))
        .agg(sum(col("__c")).as(s"__${pfx}_total"),
          sum(col("__c") - 1).as(s"__${pfx}_dup"),
          sum(col("__c") * length(col("__u"))).as(s"__${pfx}_chars"),
          sum((col("__c") - 1) * length(col("__u")))
            .as(s"__${pfx}_dup_chars"))
    }
    val lines = unitLeg("\n", "ln")
    val paras = unitLeg("\n\n", "pr")
    if (nativeGrams) {
      // gram leg, native: doc-local statistics in one per-row pass —
      // no explode, no gram shuffle (scaladoc on the public def)
      val start = base.select(col(idCol), length(col(textCol)).as("__len"),
        graft.functions.WordGramFunctions.gopher_gram_stats(toks).as("__gs"))
      def topF(n: Int) =
        coalesce(round(col("__gs")(s"top$n"), 6), lit(0.0))
      def dupF(n: Int) =
        coalesce(round(col("__gs")(s"dup$n"), 6), lit(0.0))
      return assembleRepetition(start, lines, paras, idCol, topF, dupF)
    }
    // gram leg, HOF spec twin: one tagged explode for all n in 2..10
    val grams = base.select(col(idCol), toks.as("__t"))
      .select(col(idCol), size(col("__t")).as("__nt"),
        length(concat_ws(" ", col("__t"))).as("__tchars"), col("__t"))
      .select(col(idCol), col("__nt"), col("__tchars"),
        explode(
          filter(
            transform(sequence(lit(2), lit(10)), n =>
              struct(
                n.as("n"),
                when(size(col("__t")) >= n,
                  transform(sequence(lit(0), size(col("__t")) - n),
                    i => concat_ws(" ", slice(col("__t"), i + 1, n))))
                  .otherwise(array().cast("array<string>")).as("gs"))),
            s => size(s.getField("gs")) > 0)).as("__ng"))
      .select(col(idCol), col("__tchars"),
        col("__ng")("n").as("__n"), explode(col("__ng")("gs")).as("__g"))
    val gramCounts = grams
      .groupBy(col(idCol), col("__n"), col("__tchars"), col("__g"))
      .agg(count(lit(1)).as("__c"))
    val gramStats = gramCounts.groupBy(col(idCol), col("__n"))
      .agg(
        // top gram by (count, gram) — deterministic tie-break
        max(struct(col("__c"), col("__g"))).as("__top"),
        sum(when(col("__c") > 1, col("__c") * length(col("__g")))
          .otherwise(lit(0L))).as("__dup_chars"),
        first(col("__tchars")).as("__tchars"))
      .select(col(idCol), col("__n"),
        // a top gram occurring ONCE is not repetition — without this
        // exemption every short document fails on its own longest
        // phrase (no-evidence ⇒ 0, the convention above)
        when(col("__top")("__c") > 1,
          round(least(lit(1.0),
            (col("__top")("__c") * length(col("__top")("__g")))
              .cast("double") /
              greatest(col("__tchars"), lit(1)).cast("double")), 6))
          .otherwise(lit(0.0)).as("__topfrac"),
        round(least(lit(1.0), col("__dup_chars").cast("double") /
          greatest(col("__tchars"), lit(1)).cast("double")), 6)
          .as("__dupfrac"))
    val pivoted = gramStats.groupBy(col(idCol))
      .agg(
        map_from_entries(collect_list(
          struct(col("__n"), struct(col("__topfrac"), col("__dupfrac")))))
          .as("__m"))
    val start = base.select(col(idCol), length(col(textCol)).as("__len"))
      .join(pivoted, Seq(idCol), "left")
    def topF(n: Int) = coalesce(
      element_at(col("__m"), n)("__topfrac"), lit(0.0))
    def dupF(n: Int) = coalesce(
      element_at(col("__m"), n)("__dupfrac"), lit(0.0))
    assembleRepetition(start, lines, paras, idCol, topF, dupF)
  }

  /** Shared assembly of the [[gopherRepetitionRules]] spellings: join
    * the unit legs onto the per-doc gram-statistic frame (`start` also
    * carries `__len`) and emit the 13 fractions + `repetition_pass`. */
  private def assembleRepetition(start: DataFrame, lines: DataFrame,
      paras: DataFrame, idCol: String,
      topF: Int => Column, dupF: Int => Column): DataFrame = {
    def fr(num: Column, den: Column) = round(
      coalesce(num.cast("double") /
        when(den > 0, den.cast("double")), lit(0.0)), 6)
    val out = start
      .join(lines, Seq(idCol), "left")
      .join(paras, Seq(idCol), "left")
      .select(col(idCol),
        fr(col("__ln_dup"), col("__ln_total")).as("dup_line_frac"),
        fr(col("__pr_dup"), col("__pr_total")).as("dup_para_frac"),
        fr(col("__ln_dup_chars"), col("__len")).as("dup_line_char_frac"),
        fr(col("__pr_dup_chars"), col("__len")).as("dup_para_char_frac"),
        topF(2).as("top_2gram_char_frac"),
        topF(3).as("top_3gram_char_frac"),
        topF(4).as("top_4gram_char_frac"),
        dupF(5).as("dup_5gram_char_frac"),
        dupF(6).as("dup_6gram_char_frac"),
        dupF(7).as("dup_7gram_char_frac"),
        dupF(8).as("dup_8gram_char_frac"),
        dupF(9).as("dup_9gram_char_frac"),
        dupF(10).as("dup_10gram_char_frac"))
      .withColumn("repetition_pass",
        col("dup_line_frac") <= 0.30 && col("dup_para_frac") <= 0.30 &&
        col("dup_line_char_frac") <= 0.20 &&
        col("dup_para_char_frac") <= 0.20 &&
        col("top_2gram_char_frac") <= 0.20 &&
        col("top_3gram_char_frac") <= 0.18 &&
        col("top_4gram_char_frac") <= 0.16 &&
        col("dup_5gram_char_frac") <= 0.15 &&
        col("dup_6gram_char_frac") <= 0.14 &&
        col("dup_7gram_char_frac") <= 0.13 &&
        col("dup_8gram_char_frac") <= 0.12 &&
        col("dup_9gram_char_frac") <= 0.11 &&
        col("dup_10gram_char_frac") <= 0.10)
    out
  }

  /** Per-shard vocabulary top-k: lowercase token frequencies per
    * (shard, token), then the k most frequent tokens per shard through the
    * bounded-heap [[graft.plans.TopK]] operator — the corpus-statistics
    * query a tokenizer/vocab-build stage runs. Shape: one explode + one
    * partial-aggregated count shuffle on (shard, token), then the top-k
    * exchange on the shard alone; the heap keeps O(shards x k) rows where
    * a window formulation would sort every shard's full vocabulary.
    * Ties break (freq desc, token asc) — a total order, so results are
    * deterministic and SQL-oracle-checkable. */
  def vocabTopK(df: DataFrame, shardCol: String, textCol: String,
      k: Int): DataFrame = {
    val counts = df
      .select(col(shardCol), explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col(shardCol), col("token"))
      .agg(count(lit(1)).as("token_freq"))
    // group cardinality == shard count, counted on the cheap distinct-shard
    // frame — perGroup's default approx_count_distinct estimate would
    // re-run the whole corpus explode+aggregate a second time (measured
    // ~2x the op at 1M docs) just to learn what one tiny count knows
    val nShards = df.select(col(shardCol)).distinct().count()
    val order = Seq(("token_freq", false), ("token", true))
    if (nShards <= graft.plans.TopK.defaultMaxGroups)
      graft.plans.TopK.perGroup(counts, Seq(shardCol), order, k,
        maxGroups = Long.MaxValue)
    else graft.plans.TopK.windowPerGroup(counts, Seq(shardCol), order, k)
  }

  /** URL canonicalization for crawl-scale URL dedup — the normalization
    * pass that runs before keying a seen-URL table: (1) drop the
    * fragment; (2) lowercase the scheme://authority (paths stay
    * case-sensitive); (3) strip default ports (:80 http, :443 https);
    * (4) drop `utm_*` tracking parameters, repairing dangling `?`/`&`
    * separators; (5) strip one trailing slash. Pure per-row regex chain —
    * map-only, RE2-portable (no lookarounds), so DuckDB replays every
    * step and a seen-URL join keys on the canonical string (or its
    * xxhash64 at crawl scale, the [[graft.ops.Dedup.exactByDigest]]
    * argument). */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    val lowered = concat(
      lower(regexp_extract(noFrag, "^([a-zA-Z]+://[^/?]*)", 1)),
      regexp_replace(noFrag, "^[a-zA-Z]+://[^/?]*", ""))
    // a default port also hides before '?' (path-less query URLs)
    val noPort = regexp_replace(
      regexp_replace(lowered, "^(https://[^/:]*):443([/?]|$)", "$1$2"),
      "^(http://[^/:]*):80([/?]|$)", "$1$2")
    // two passes: mid-string utm params — anchored on a real separator so
    // 'my_utm_tracker' style params whose NAME merely contains 'utm_' are
    // untouched; the (...)+ lets consecutive utm params collapse into the
    // one kept separator — then a final utm param at the end together
    // with its dangling separator
    val noUtm = regexp_replace(
      regexp_replace(noPort, "([?&])(utm_[a-zA-Z0-9]+=[^&#]*&)+", "$1"),
      "[?&]utm_[a-zA-Z0-9]+=[^&#]*$", "")
    regexp_replace(noUtm, "/$", "")
  }

  /** Intra-document line dedup (the RefinedWeb/Dolma line-level pass):
    * remove every repeat of an earlier line WITHIN the same document,
    * preserving first occurrences in order. Map-only per-row array work —
    * ZERO shuffles, the deliberate contrast to [[graft.ops.Dedup
    * .paragraphDedup]]'s corpus-wide first-occurrence rule. The
    * position-of-first-occurrence filter is O(lines²) per document in a
    * tight codegen'd loop; line counts are bounded in practice. */
  def dedupLinesWithin(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val kept = filter(lines, (x, i) => array_position(lines, x) === i + 1)
    df.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      (size(lines) - size(kept)).cast("long").as("n_removed"),
      array_join(kept, sep).as("clean_text"))
  }

  /** Tokenizer-induction prep: corpus-wide adjacent character-pair counts
    * within words — the statistic BPE's first merge round maximizes
    * (Sennrich et al. 2016: the merge candidate is the most frequent
    * symbol pair). Word-frequency pre-aggregation makes the expensive
    * stage vocabulary-sized, not corpus-sized: one token-keyed count
    * collapses the corpus to (distinct word, freq) — at 100 TB that is
    * ~10^7 rows standing in for ~10^13 token occurrences — then the
    * char-pair explode and the freq-weighted pair count run on the tiny
    * frame (second shuffle keyed on 2-char pairs, a few-thousand-key
    * domain with full map-side partial aggregation). Top-k lands as
    * TakeOrderedAndProject; ties break (count desc, pair asc) for a
    * total, oracle-checkable order. */
  def bpePairCounts(df: DataFrame, textCol: String = "text",
      k: Int = 30): DataFrame = {
    val wordFreq = df
      .select(explode(tokens(lower(col(textCol)))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("__wf"))
    wordFreq
      .select(col("__wf"), explode(
          when(length(col("word")) >= 2,
            transform(sequence(lit(1), length(col("word")) - 1),
              i => col("word").substr(i, lit(2))))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("__wf")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(k)
  }

  /** fastText-style hashed linear classifier INFERENCE — the
    * quality-filter scorer production pipelines run over every crawl
    * document (CCNet's fastText language/quality gates, GPT-3's
    * WebText-vs-CommonCrawl logistic filter). Features are hashed
    * unigrams + adjacent-token bigrams (the fastText recipe) bucketed
    * into `weights.length` slots; the score is
    * `sigmoid(bias + sum(weights(bucket(f))))`.
    *
    * Scale shape: the MODEL is small (a few thousand doubles) and the
    * CORPUS is huge, so the weights travel as a broadcast array literal
    * inside a per-row expression — scoring is map-only, shuffle-free,
    * whole-stage-codegen'd; no explode, no join, no shuffle of any kind.
    * The feature hash is md5-based (not xxhash64) on purpose: md5 is
    * engine-portable, so an external system (or the DuckDB oracle) can
    * reproduce bucket ids bit-for-bit — the same portability contract as
    * [[graft.ops.Sampling.contentHashSplit]].
    *
    * Output: every input row plus `n_features`, `score` (rounded 6dp for
    * cross-engine float determinism), and `label` (score > 0.5). */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
      weights: Array[Double], bias: Double = 0.0,
      useBigrams: Boolean = true): DataFrame = {
    require(weights.nonEmpty, "need at least one weight bucket")
    // bucket ids from the shared native featurizer (one primitive md5
    // loop per row — same DuckDB-replayable values as the HOF spelling:
    // CAST('0x'||substring(md5(f),1,8) AS BIGINT) % b); the remaining
    // fold is a cheap int-indexed lookup per feature, in the same
    // feature order, so the float sum is bit-identical
    val bkts = hashedNgramBuckets(textCol, weights.length, useBigrams)
    val wLit = array(weights.map(lit(_)): _*)
    val z = aggregate(bkts, lit(bias),
      (acc, bk) => acc + element_at(wLit, bk + 1))
    df.withColumn("n_features", size(bkts))
      .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-z)), 6))
      .withColumn("label", col("score") > 0.5)
  }

  /** Reliability (calibration) bins for a probabilistic quality gate —
    * the readout run before trusting a classifier's scores as keep
    * probabilities: bucket predictions into `bins` equal-width
    * confidence bins and compare each bin's mean predicted probability
    * against its empirical positive rate. A well-calibrated gate has
    * `conf_mean ≈ label_rate` per bin; `abs_gap` is each bin's
    * contribution shape for ECE (expected calibration error =
    * sum(n/total * abs_gap)). Why it matters for corpus filtering: a
    * gate that is systematically overconfident in the 0.5–0.7 band
    * silently biases mixture ratios when scores are used as sampling
    * weights ([[graft.ops.Sampling.mixtureBySource]]-style recipes) —
    * this table is how that bias is seen before a 100 TB run, not after.
    *
    * Scale shape: the binning is a map-only projection (`least(floor(
    * p*bins), bins-1)` — scores land in [0,1] with p=1.0 folded into
    * the top bin) into ONE bin-keyed hash aggregate collapsing to
    * ≤`bins` rows — partial aggregation map-side, the exchange carries
    * bins×partitions rows. Means use [[mean6Exact]] (integer-space
    * half-up — means of 6dp scores sit on round-boundary halves
    * constantly, where round-on-double diverges between engines), so
    * `scoreCol` must carry 6dp-rounded values (every gate in this
    * engine emits round6 scores); `labelCol` must be 0/1-valued
    * (numeric or boolean-castable).
    *
    * Output: (bin, n, conf_mean, label_rate, abs_gap), one row per
    * non-empty bin. */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, "need bins >= 2")
    df.select(
        least(floor(col(scoreCol) * bins), lit(bins - 1)).cast("int")
          .as("bin"),
        col(scoreCol).as("__p"), col(labelCol).cast("double").as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        mean6Exact(col("__p")).as("conf_mean"),
        mean6Exact(col("__y")).as("label_rate"))
      .withColumn("abs_gap",
        round(abs(col("conf_mean") - col("label_rate")), 6))
  }

  /** Trained hashed-logistic-regression model: `weights`/`bias` plug
    * straight into [[hashedLinearScore]] (same md5 featurization), the
    * per-epoch `trajectory` rows ((epoch, bucket, weight); bucket -1 =
    * bias) and `losses` (mean log-loss BEFORE each epoch's update, so a
    * learning run reads as a strictly decreasing sequence) are the
    * training audit trail. */
  final case class LogRegModel(weights: Array[Double], bias: Double,
      trajectory: Seq[(Int, Int, Double)], losses: Seq[Double])

  /** Distributed logistic-regression training for the hashed-feature
    * quality gate — the pipeline that PRODUCES [[hashedLinearScore]]'s
    * weights, closing the CCNet loop (train a filter on your own corpus,
    * then gate with it). Full-batch gradient descent with a fixed epoch
    * count: no row sampling, no rand(), so the whole trajectory is
    * deterministic and engine-replayable.
    *
    * Scale shape: the MODEL is driver-small (buckets+1 doubles — the IVF
    * centroid contract) and each epoch costs ONE corpus-sized aggregate:
    * the per-row residual r = sigmoid(z) - y is computed map-side with
    * the current weights as a broadcast array literal (exactly the
    * [[hashedLinearScore]] scoring shape), then one explode + groupBy on
    * bucket ids sums gradient contributions, with two sentinel buckets
    * riding the same aggregate (-1: bias gradient = sum of r; -2: log-
    * loss sum) so no second pass over the corpus exists. The featurized
    * frame (label + bucket array, ints only — text dropped) is persisted
    * across epochs. Weights round to 6dp after every update: epoch E+1
    * starts from bit-identical weights in any engine, which is what lets
    * DuckDB replay the full trajectory (x88) rather than just the final
    * state.
    *
    * Loss is clamped (eps=1e-12) against log(0) for perfectly-separated
    * rows; gradients need no clamp. */
  def trainHashedLogReg(df: DataFrame, textCol: String, labelCol: String,
      buckets: Int, epochs: Int, lr: Double,
      useBigrams: Boolean = true): LogRegModel = {
    require(buckets > 0 && epochs >= 1 && lr > 0)
    val bkts = hashedNgramBuckets(textCol, buckets, useBigrams)
    val feats = df.select(col(labelCol).cast("double").as("__y"),
      bkts.as("__b")).persist()
    val n = feats.count().toDouble
    require(n > 0, "empty training frame")

    val w = new Array[Double](buckets)
    var bias = 0.0
    val trajectory = Seq.newBuilder[(Int, Int, Double)]
    val losses = Seq.newBuilder[Double]

    var epoch = 1
    while (epoch <= epochs) {
      val wLit = array(w.map(lit(_)): _*)
      val z = aggregate(col("__b"), lit(bias),
        (acc, j) => acc + element_at(wLit, j + 1))
      val s = lit(1.0) / (lit(1.0) + exp(-z))
      val r = s - col("__y")
      val loss = -(col("__y") * log(greatest(s, lit(1e-12))) +
        (lit(1.0) - col("__y")) * log(greatest(lit(1.0) - s, lit(1e-12))))
      // ONE aggregate: every token bucket contributes r; sentinel -1
      // carries the bias gradient, sentinel -2 the loss sum
      val sums = feats
        .select(col("__y"), r.as("__r"), loss.as("__l"), col("__b"))
        .select(explode(transform(
          concat(col("__b"), array(lit(-1), lit(-2))),
          j => struct(j.as("bkt"),
            when(j === -2, col("__l")).otherwise(col("__r")).as("v"))))
          .as("e"))
        .groupBy(col("e.bkt")).agg(sum(col("e.v")).as("gs"))
        .collect().map(row => row.getInt(0) -> row.getDouble(1)).toMap
      losses += sums.getOrElse(-2, 0.0) / n
      var j = 0
      while (j < buckets) {
        w(j) = round6(w(j) - lr * sums.getOrElse(j, 0.0) / n)
        trajectory += ((epoch, j, w(j)))
        j += 1
      }
      bias = round6(bias - lr * sums.getOrElse(-1, 0.0) / n)
      trajectory += ((epoch, -1, bias))
      epoch += 1
    }
    feats.unpersist()
    LogRegModel(w, bias, trajectory.result(), losses.result())
  }

  /** Fill-in-the-middle transformation (Bavarian et al. 2022) — the
    * pretraining-data rewrite behind every infilling-capable code model:
    * a document is split at two points into (prefix, middle, suffix) and
    * re-serialized in PSM order `<fim_prefix> P <fim_suffix> S
    * <fim_middle> M`, so an autoregressive model learns to generate the
    * middle conditioned on both sides. A `fimRate` fraction of documents
    * is transformed; the rest pass through (the paper's 50/50 mix).
    *
    * Deterministic by construction: the apply decision and both cut
    * points derive from md5(id) fractions (the
    * [[graft.ops.Sampling.contentHashSplit]] portability contract — no
    * rand(), so reruns, retries, and the DuckDB oracle all produce the
    * SAME corpus). Cuts land on token boundaries; empty segments are
    * legal (the paper keeps them) and serialize as empty strings between
    * sentinels. Map-only: tokenize, three slices, one concat — no
    * shuffle, whole-stage-codegen'd.
    *
    * Output: every input row plus `fim_applied` and `text_fim`. The input
    * must not carry the temp columns `__fim_toks` or `__fim_us`. */
  def fimTransform(df: DataFrame, idCol: String, textCol: String,
      fimRate: Double = 0.5,
      preTok: String = "<fim_prefix>", sufTok: String = "<fim_suffix>",
      midTok: String = "<fim_middle>"): DataFrame = {
    require(fimRate >= 0 && fimRate <= 1)
    // a caller's column of the same name would be replaced, then dropped
    val temps = Seq("__fim_toks", "__fim_us").filter(df.columns.contains)
    require(temps.isEmpty, s"fimTransform: input already has ${temps.mkString(", ")}")
    // md5-derived uniforms in [0,1): first 8 hex chars / 2^32. One
    // native pass computes all three salted draws (r17,
    // [[graft.functions.Md5SaltedUniforms]] — bit-identical to the
    // replaced per-salt conv(substring(md5(concat(id, salt)))) chains
    // the DuckDB oracle replays); codegen subexpression elimination
    // collapses the repeated references to one evaluation per row.
    val us = graft.functions.Md5ShingleFunctions.md5_salted_uniforms(
      col(idCol).cast("string"), Seq("_fim0", "_fim1", "_fim2"))
    def u(i: Int): Column = element_at(col("__fim_us"), i + 1)
    // tokens() is an interpreted filter(split(...)) HOF chain and the
    // uniforms feed ~10 expression sites: projected ONCE into temp
    // columns so the plan can never re-spell (and re-evaluate) the
    // tokenize per consuming site — the replaced spelling inlined both
    // per site (r17; the before-plan shows 10 copies of each chain)
    val toks = col("__fim_toks")
    val len = size(toks)
    val c1 = least(u(1), u(2))
    val c2 = greatest(u(1), u(2))
    val i1 = floor(c1 * len).cast("int")
    val i2 = floor(c2 * len).cast("int")
    val joinSeg = (seg: Column) => array_join(seg, " ")
    val fimText = concat(
      lit(preTok), lit(" "), joinSeg(slice(toks, lit(1), i1)),
      lit(" "), lit(sufTok), lit(" "),
      joinSeg(slice(toks, i2 + 1, greatest(len - i2, lit(0)))),
      lit(" "), lit(midTok), lit(" "),
      joinSeg(slice(toks, i1 + 1, greatest(i2 - i1, lit(0)))))
    val applied = (u(0) < fimRate) && (len >= 1)
    df.withColumn("__fim_toks", tokens(col(textCol)))
      .withColumn("__fim_us", us)
      .withColumn("fim_applied", applied)
      .withColumn("text_fim",
        when(applied, fimText).otherwise(col(textCol)))
      .drop("__fim_toks", "__fim_us")
  }

  /** Unicode-script profile — the pre-langid routing gate: per-document
    * counts of Latin / Cyrillic / Han / Arabic letters, digits, and
    * whitespace, plus the dominant script. N-gram language ID
    * ([[languageId]]) is only meaningful WITHIN a script family; a crawl
    * pipeline routes on script first (CCNet runs fastText lid which does
    * exactly this internally) and quarantines mixed-script spam (the
    * "Cyrillic a inside Latin words" obfuscation trick shows up as a
    * nonzero minority-script count).
    *
    * Map-only regex-count chain, shuffle-free. Patterns are written in
    * Java spelling (`\p{IsCyrillic}`) with the DuckDB oracle using RE2
    * spelling (`\p{Cyrillic}`) — the repo's documented dialect-
    * translation convention. Dominant script resolves ties by the fixed
    * latin > cyrillic > han > arabic order (>= comparisons), 'none' when
    * all four are zero. */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    def cnt(pat: String): Column =
      size(regexp_extract_all(col(textCol), lit(pat), lit(0)))
    val latin = cnt("\\p{IsLatin}")
    val cyr = cnt("\\p{IsCyrillic}")
    val han = cnt("\\p{IsHan}")
    val arab = cnt("\\p{IsArabic}")
    val main = when(latin === 0 && cyr === 0 && han === 0 && arab === 0,
        lit("none"))
      .when(latin >= cyr && latin >= han && latin >= arab, lit("latin"))
      .when(cyr >= han && cyr >= arab, lit("cyrillic"))
      .when(han >= arab, lit("han"))
      .otherwise(lit("arabic"))
    df.select(col(idCol),
      latin.as("n_latin"), cyr.as("n_cyrillic"), han.as("n_han"),
      arab.as("n_arabic"),
      cnt("[0-9]").as("n_digit"),
      cnt("\\s").as("n_space"),
      main.as("main_script"))
  }

  /** Per-source n-gram diversity — the distinct-n readout (Zhu et al.'s
    * Self-BLEU family): for each source and each n, the total n-gram
    * count, the distinct count, and their ratio. A collapsing ratio at
    * n=2/3 is the canonical symptom of template/boilerplate floods or
    * model-generated spam inside a crawl slice — the signal that routes
    * a source to the dedup/filter passes before it poisons a mixture.
    *
    * Scale shape: one tokenize + explode over (source, n, gram) with the
    * gram windows built map-side, then a TWO-LEVEL aggregate: per-gram
    * counts behind the one (source, n, gram)-keyed exchange (map-side
    * partial combine collapses within-partition repeats), then n_grams =
    * sum(cnt) / n_distinct = count(*) over the per-gram frame — a
    * vocabulary-sized second stage. Deliberately NOT `count_distinct`:
    * Spark plans that as an Expand that doubles every exploded row
    * before the exchange (measured 15.7s -> 7.0s at sf0.1 for the
    * identical result). Sources x |ns| output rows. At open-crawl
    * vocabulary scale swap the exact distinct for approx_count_distinct
    * the way x17 argues; exact is kept here because the oracle replays
    * it bit-for-bit. Docs shorter than n contribute nothing at that n
    * (no whole-text fallback — a diversity metric must not fabricate
    * grams). */
  def ngramDiversity(df: DataFrame, srcCol: String, textCol: String,
      ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1))
    // tokenize behind a projection boundary FIRST: higher-order lambdas
    // re-inline their input expression per element, so referencing
    // tokens(...) directly inside transform() re-tokenizes every doc
    // once per gram (the documented seconds-to-CPU-hours pitfall)
    val tokd = df.select(col(srcCol).as("source"),
      tokens(lower(col(textCol))).as("__toks"))
    tokd.select(col("source"), explode(
        graft.functions.WordGramFunctions.word_grams_tagged(col("__toks"), ns))
        .as("ng"))
      .groupBy(col("source"), col("ng.n"), col("ng.g"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col("source"), col("n"))
      .agg(sum(col("__cnt")).as("n_grams"),
        count(lit(1)).as("n_distinct"))
      .withColumn("distinct_ratio",
        round(col("n_distinct").cast("double") / col("n_grams"), 6))
  }

  /** Text normalization — the canonical pre-tokenization cleanup pass
    * (C4/CCNet-style): strip control characters (tabs/newlines kept for
    * structure until the whitespace collapse), strip zero-width
    * characters, unify curly quotes / en- and em-dashes / non-breaking
    * spaces to their ASCII forms, collapse space/tab runs to one space,
    * trim. Newlines survive (paragraph and line ops downstream depend
    * on them). Map-only regex+translate chain: shuffle-free,
    * whole-stage-codegen'd, RE2-portable patterns (the oracle replays
    * the chain in RE2 spelling — \x{...} instead of Java's \uXXXX, the
    * documented dialect-translation convention). Adds `normalized` and
    * a `changed` flag so a pipeline can count how much of the corpus
    * was dirty. Safe to normalize in place (`outCol == textCol`): both
    * output expressions are bound against the INPUT column in a single
    * `withColumns`, so `changed` always compares normalized-vs-original
    * (a sequential `withColumn` pair would compare the overwritten
    * column to itself and pin `changed` false). */
  def normalizeText(df: DataFrame, textCol: String = "text",
      outCol: String = "normalized"): DataFrame = {
    val t = col(textCol)
    val noCtl = regexp_replace(t, "[\\x00-\\x08\\x0b-\\x1f\\x7f]", "")
    val noZw = regexp_replace(noCtl, "[\\u200b\\u200c\\u200d\\ufeff]", "")
    val ascii = translate(noZw,
      "\u2018\u2019\u201c\u201d\u2013\u2014\u00a0", "''\"\"-- ")
    val norm = trim(regexp_replace(ascii, "[ \\t]+", " "))
    df.withColumns(Map(outCol -> norm, "changed" -> (norm =!= t)))
  }

  /** Bigram language-model NLL — the step up from [[unigramNll]] toward
    * the KenLM-style perplexity filters (CCNet) when no external model
    * is wanted: score every document under the corpus's OWN bigram
    * model with add-k smoothing, p(w2|w1) = (c(w1,w2) + k) /
    * (c_start(w1) + k·V), where c_start(w1) = Σ_w2 c(w1,w2) is w1's
    * bigram-CONTEXT count (not its corpus unigram count — a token's
    * document-final occurrences start no bigram, and counting them
    * would deflate every transition out of it; with the context count
    * the conditionals properly normalize: Σ_w2 p(w2|w1) → 1 as k → 0)
    * and V = |{token types observed in bigram positions}|. Fluent/
    * common continuations score low; documents whose transitions are
    * rare relative to the corpus — gibberish, shuffled text,
    * boilerplate the unigram model cannot see past — score high even
    * when their unigram mix looks normal.
    *
    * Scale shape: the whole MODEL is the compact pair-count frame
    * `bg` (bounded by distinct-bigram types, orders of magnitude below
    * corpus size) — and THREE consumers branch from it (the scored-row
    * join, the context-count regroup, the V distinct), so it is
    * persisted once, the [[sourceTokenKl]] /
    * [[graft.ops.Dedup.minhashLshPairs]] dual-consumer-recompute
    * convention (measured here: without the persist Spark re-tokenizes
    * the corpus once PER consumer — AQE's ReuseExchange does not
    * canonicalize the three aggregate lineages together). Document text
    * is therefore tokenized exactly twice: once building `bg`, once for
    * the per-doc scored rows. Only (doc_id, token-pair) rows ride
    * shuffles; V is a scalar broadcast. Output: doc_id, n_bigrams,
    * bigram_nll (mean −ln p, rounded 6dp; 0.0 for docs with fewer than
    * two tokens — emitted, not dropped, per the corpus accounting
    * convention). */
  def bigramNll(df: DataFrame, idCol: String, textCol: String,
      k: Double = 0.5): DataFrame = {
    require(k > 0, "add-k smoothing needs k > 0")
    val toks = tokens(lower(col(textCol)))
    val len = greatest(size(toks) - 1, lit(0))
    val docBg = df.select(col(idCol), explode(arrays_zip(
        slice(toks, lit(1), len), slice(toks, lit(2), len))).as("bg"))
      .select(col(idCol), col("bg")("0").as("w1"), col("bg")("1").as("w2"))
    val bg = Caching.scoped(docBg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("__c12")))
    bg.count()
    val ctx = bg.groupBy(col("w1")).agg(sum(col("__c12")).as("__cstart"))
    val vocab = bg.select(col("w1").as("w"))
      .union(bg.select(col("w2").as("w")))
      .distinct().agg(count(lit(1)).cast("double").as("__v"))
    val scored = docBg
      .join(bg, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__nll", -log(
        (col("__c12").cast("double") + k) /
          (col("__cstart").cast("double") + lit(k) * col("__v"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("__nll")), 6).as("bigram_nll"))
    df.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams"))
      .na.fill(0.0, Seq("bigram_nll"))
  }

  /** Stupid-backoff trigram LM scoring (Brants et al., "Large Language
    * Models in Machine Translation", EMNLP 2007) — the next step past
    * [[bigramNll]] toward CCNet's KenLM perplexity filter: score `docs`
    * under the `model` corpus's raw n-gram counts with the backoff
    * cascade S(w3|w1w2) = c123/c12 if the trigram was seen, else
    * lam * c23/c2 if the bigram was, else lam^2 * an add-k-smoothed
    * unigram ((c3 + k)/(N + k*V) — the one deviation from the paper,
    * which assumes a closed vocabulary; OOV tokens here get the
    * smoothing floor instead of -ln(0)). The prefix property of raw
    * counts guarantees c12 > 0 whenever c123 > 0 (and c2 > 0 whenever
    * c23 > 0), so the cascade never divides by null.
    *
    * Model and scored corpus are SEPARATE inputs on purpose: scoring a
    * corpus against itself never backs off (every trigram was seen) —
    * the operator exists for held-out filtering.
    *
    * Scale shape: the model reduces to three count frames (uni/bi/tri
    * types — bounded by distinct n-gram types, far below corpus size)
    * built from ONE persisted tokenized frame (three consumers — the
    * [[bigramNll]] `bg` convention); scoring explodes doc trigrams once
    * and left-joins the three tables on their keys (equi-joins Spark
    * hash-partitions; the honest cost of distributed LM scoring), with
    * N and V riding a broadcast. Output: idCol, n_trigrams, sb_nll
    * (mean -ln S, 6dp; docs with < 3 tokens emit 0, not dropped).
    *
    * Cache lifetime: the persisted model frame lives for the session
    * (the returned frame is lazy and derives from it — same as
    * [[bigramNll]]'s `bg`). A driver scoring against MANY model corpora
    * in one session should `spark.catalog.clearCache()` between models
    * or the cached tokenized frames accumulate. */
  def stupidBackoffNll(model: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, lam: Double = 0.4, k: Double = 0.5): DataFrame = {
    require(lam > 0 && lam <= 1, "backoff factor in (0,1]")
    require(k > 0, "add-k smoothing needs k > 0")
    val toks = tokens(lower(col(textCol)))

    val modelTok = Caching.scoped(model.select(toks.as("ts")))
    modelTok.count()
    val uni = modelTok.select(explode(col("ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    def grams(n: Int) = {
      val len = greatest(size(col("ts")) - (n - 1), lit(0))
      modelTok.select(explode(arrays_zip(
        (0 until n).map(i => slice(col("ts"), lit(i + 1), len)): _*)).as("g"))
    }
    val bi = grams(2).select(col("g")("0").as("a"), col("g")("1").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
    val tri = grams(3)
      .select(col("g")("0").as("a"), col("g")("1").as("b"), col("g")("2").as("c3"))
      .groupBy(col("a"), col("b"), col("c3")).agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum(col("c")).cast("double").as("__n"),
      count(lit(1)).cast("double").as("__v"))

    val dlen = greatest(size(toks) - 2, lit(0))
    val docTri = docs.select(col(idCol), explode(arrays_zip(
        slice(toks, lit(1), dlen), slice(toks, lit(2), dlen),
        slice(toks, lit(3), dlen))).as("g"))
      .select(col(idCol), col("g")("0").as("w1"), col("g")("1").as("w2"),
        col("g")("2").as("w3"))

    val scored = docTri
      .join(tri.select(col("a").as("w1"), col("b").as("w2"),
        col("c3").as("w3"), col("c").as("__c123")), Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("a").as("w1"), col("b").as("w2"),
        col("c").as("__c12")), Seq("w1", "w2"), "left")
      .join(bi.select(col("a").as("w2"), col("b").as("w3"),
        col("c").as("__c23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("c").as("__c2")), Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("c").as("__c3")), Seq("w3"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("__s",
        when(col("__c123").isNotNull,
          col("__c123").cast("double") / col("__c12").cast("double"))
        .when(col("__c23").isNotNull,
          lit(lam) * col("__c23").cast("double") / col("__c2").cast("double"))
        .otherwise(lit(lam * lam) *
          (coalesce(col("__c3"), lit(0L)).cast("double") + k) /
          (col("__n") + lit(k) * col("__v"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        round(avg(-log(col("__s"))), 6).as("sb_nll"))
    // modelTok stays cached: the returned frame is LAZY and its three
    // count tables all derive from it — an eager unpersist here would
    // silently re-tokenize the model corpus once per consumer when the
    // caller finally executes (the bigramNll `bg` convention)
    docs.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .na.fill(0L, Seq("n_trigrams"))
      .na.fill(0.0, Seq("sb_nll"))
  }

  /** Interpolated Kneser–Ney bigram LM scoring (Kneser & Ney '95; the
    * smoothing KenLM itself ships, completing the LM-filter ladder
    * [[unigramNll]] → [[bigramNll]] (add-k) → [[stupidBackoffNll]]
    * (score, not probability) → this, a PROPER smoothed probability):
    * p(w2|w1) = max(c(w1,w2) − D, 0)/c•(w1) + λ(w1)·p_cont(w2), with
    * absolute discount D, λ(w1) = D·N1+(w1,•)/c•(w1) (the discount
    * mass redistributed over w1's DISTINCT followers), and the
    * continuation probability p_cont(w2) = (N1+(•,w2) + k)/(T + k·V)
    * — "how many contexts does w2 complete" (N1+(•,w2) = distinct left
    * neighbors, T = distinct bigram types), NOT its raw frequency:
    * the insight that keeps "Francisco" improbable outside "San".
    * The add-k floor on p_cont is the one deviation from the
    * closed-vocabulary paper (the [[stupidBackoffNll]] convention):
    * OOV continuations get (0 + k)/(T + k·V) instead of −ln(0).
    * Unseen CONTEXTS (w1 never starts a model bigram — OOV, or
    * document-final-only tokens) back off to p_cont(w2) alone.
    *
    * Model and scored corpus are separate inputs on purpose (held-out
    * filtering — the [[stupidBackoffNll]] contract). Scale shape: the
    * model collapses to the pair-count frame `bg` (bounded by distinct
    * bigram TYPES, orders below corpus size), persisted once with four
    * type-bounded consumers (context counts + distinct followers in one
    * regroup, distinct predecessors, the type/vocab scalars); scoring
    * explodes doc bigrams once and left-joins the two w1/w2-keyed
    * tables, scalars riding one broadcast. Output: idCol, n_bigrams,
    * kn_nll (mean −ln p, 6dp; docs with <2 tokens emit 0, not
    * dropped). */
  def knBigramNll(model: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, discount: Double = 0.75,
      k: Double = 0.5): DataFrame =
    knScore(knTrain(model, textCol, discount, k), docs, idCol, textCol)

  /** A trained Kneser–Ney bigram model: the four type-bounded count
    * frames [[knBigramNll]] scores against, held separately so the
    * expensive model pass runs ONCE and the (cheap, per-batch) scoring
    * reuses it — the contract [[graft.streaming.EventStreams
    * .perplexityScreenSink]] needs: a stream must not rebuild the
    * model's count tables every micro-batch, exactly like the winnow
    * screen's pre-computed benchmark fingerprints. ALL FOUR frames are
    * persisted (r16: ctx/pred/totals were lazy derivations of the
    * cached bg, so every micro-batch re-paid their regroup exchanges —
    * one scored batch re-shuffled the model three times; now the first
    * consumer materializes each table once and later batches join
    * against cached, already-hash-partitioned rows, whose preserved
    * outputPartitioning also lets the w1/w2 joins skip re-exchanging
    * the model side). The frames are model-vocabulary-sized — the same
    * bound that justified caching bg. Call [[KnModel.unpersist]] when
    * the model retires. */
  final case class KnModel(bg: DataFrame, ctx: DataFrame, pred: DataFrame,
      totals: DataFrame, discount: Double, k: Double,
      nBigramTypes: Long = Long.MaxValue) {
    def unpersist(): Unit = {
      bg.unpersist(); ctx.unpersist(); pred.unpersist(); totals.unpersist()
      ()
    }
  }

  /** Broadcast gate for [[knScore]]'s model-table joins: a model with
    * at most this many distinct bigram TYPES (measured at train time —
    * [[knTrain]]'s existing bg.count) broadcasts its count tables into
    * the scoring joins, so the scored side never shuffles (a streaming
    * micro-batch scores MAP-ONLY plus its one per-doc aggregate).
    * Bigger models fall back to the shuffle joins against the cached,
    * hash-partitioned tables — the r16 shape. ~1M (w1, w2, counts)
    * rows is a few tens of MB built per action: comfortably inside
    * executor memory, far under the 8 GB broadcast cap. */
  val KnBroadcastMaxTypes: Long = 1000000L

  /** Build a [[KnModel]] from a model corpus — [[knBigramNll]]'s
    * training half. One explode + one (w1,w2)-keyed count collapse the
    * corpus to distinct bigram TYPES; everything else regroups that
    * type-bounded frame. */
  def knTrain(model: DataFrame, textCol: String, discount: Double = 0.75,
      k: Double = 0.5): KnModel = {
    require(discount > 0 && discount < 1, "absolute discount in (0,1)")
    require(k > 0, "continuation floor needs k > 0")
    val mtoks = tokens(lower(col(textCol)))
    val mlen = greatest(size(mtoks) - 1, lit(0))
    val bg = model.select(explode(arrays_zip(
        slice(mtoks, lit(1), mlen), slice(mtoks, lit(2), mlen))).as("g"))
      .select(col("g")("0").as("w1"), col("g")("1").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__c12"))
      .persist()
    // a bigram-less model would put T = V = 0 and every continuation at
    // k/0 = Infinity — fail at the cause, not with -Infinity NLLs.
    // The count doubles as the broadcast-gate measurement (r17): the
    // model's type count decides whether knScore broadcasts the tables.
    val nBigramTypes = bg.count()
    require(nBigramTypes > 0,
      "model corpus contains no bigrams (every doc has < 2 tokens)")
    // context count + distinct-follower count in ONE regroup (bg is
    // already one row per distinct (w1,w2), so the follower count is a
    // plain count, no count-distinct)
    val ctx = bg.groupBy(col("w1")).agg(
      sum(col("__c12")).as("__c1"), count(lit(1)).as("__n1f")).persist()
    val pred = bg.groupBy(col("w2")).agg(count(lit(1)).as("__n1p")).persist()
    val totals = bg.agg(count(lit(1)).cast("double").as("__t"))
      .crossJoin(bg.select(col("w1").as("w"))
        .union(bg.select(col("w2").as("w")))
        .distinct().agg(count(lit(1)).cast("double").as("__v")))
      .persist()
    KnModel(bg, ctx, pred, totals, discount, k, nBigramTypes)
  }

  /** Score a corpus against a trained [[KnModel]] — [[knBigramNll]]'s
    * scoring half, reusable across stream micro-batches. */
  def knScore(m: KnModel, docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val bg = m.bg; val ctx = m.ctx; val pred = m.pred; val totals = m.totals
    val discount = m.discount; val k = m.k
    val toks = tokens(lower(col(textCol)))
    val dlen = greatest(size(toks) - 1, lit(0))
    val docBg = docs.select(col(idCol), explode(arrays_zip(
        slice(toks, lit(1), dlen), slice(toks, lit(2), dlen))).as("g"))
      .select(col(idCol), col("g")("0").as("w1"), col("g")("1").as("w2"))
    val pcont = (coalesce(col("__n1p"), lit(0L)).cast("double") + k) /
      (col("__t") + lit(k) * col("__v"))
    val seen = greatest(coalesce(col("__c12"), lit(0L)).cast("double") -
        discount, lit(0.0)) / col("__c1").cast("double") +
      (lit(discount) * col("__n1f").cast("double") /
        col("__c1").cast("double")) * pcont
    // scale-adaptive join strategy (guide §3.1): under the measured
    // type-count gate the model tables broadcast (ctx/pred are ≤ bg's
    // row count by construction), so the scored side crosses NO
    // exchange before its per-doc aggregate. At fixture scale this is
    // plan-identical to before (the cached tables' accurate size stats
    // already sat under the 10 MB auto-broadcast estimate — PlanAudit
    // census unchanged); the gate's point is the 10 MB..~1M-types band
    // at corpus scale, where the estimate would silently flip every
    // micro-batch to shuffle joins. Past the gate: the r16 shape
    // (shuffle joins against the cached, hash-partitioned tables).
    val side: DataFrame => DataFrame =
      if (m.nBigramTypes <= KnBroadcastMaxTypes) broadcast else identity
    val scored = docBg
      .join(side(bg), Seq("w1", "w2"), "left")
      .join(side(ctx), Seq("w1"), "left")
      .join(side(pred), Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("__p", when(col("__c1").isNotNull, seen).otherwise(pcont))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(col("__p"))), 6).as("kn_nll"))
    // bg stays cached: the returned frame is lazy and every count table
    // derives from it (the bigramNll/stupidBackoffNll convention)
    docs.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams"))
      .na.fill(0.0, Seq("kn_nll"))
  }

  /** Per-PARAGRAPH perplexity filtering — CCNet's actual operating unit
    * (Wenzek et al. '20 §4.3: the LM filter scores and drops
    * paragraphs, not documents, because boilerplate rides inside
    * otherwise-good pages): split each document on `sep`, score every
    * paragraph with the interpolated Kneser–Ney bigram LM
    * ([[knBigramNll]], trained on `model` — held-out by the same
    * contract), DROP paragraphs whose mean NLL exceeds `maxNll`, and
    * reassemble the survivors in original position order. The document
    * LM ladder (unigram → add-k bigram → stupid backoff → KN) ranks
    * whole documents; this is the surgical arm that rescues a good
    * page from its bad paragraphs.
    *
    * Semantics pinned for replay: the kept/dropped decision compares
    * the 6dp-ROUNDED paragraph NLL (the [[knBigramNll]] output
    * contract — the established DuckDB ROUND parity surface), so the
    * boundary replays exactly cross-engine. Paragraphs with < 2 tokens
    * score 0 (the knBigramNll convention) and are therefore always
    * kept — an empty-ish paragraph carries no LM evidence either way.
    * A document whose every paragraph drops VANISHES (the
    * [[graft.ops.Dedup.reassembleKept]] convention: its text would be
    * empty and a downstream length gate would cut it anyway).
    *
    * Scale shape: one posexplode, then exactly [[knBigramNll]]'s
    * type-bounded scoring joins keyed on the composite (id, pos)
    * struct, then ONE id-keyed regroup to reassemble — paragraph text
    * rides the explode and the reassembly, never a scoring shuffle
    * key. Output: (idCol, text, n_paras, n_kept). */
  def paragraphPerplexityFilter(model: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, maxNll: Double,
      sep: String = "\n\n", discount: Double = 0.75,
      k: Double = 0.5): DataFrame = {
    val paras = docs.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
      .withColumn("__pk", struct(col(idCol), col("pos")))
    // knBigramNll reads ONE text column name across both frames; the
    // model trains on whole documents (CCNet trains on the reference
    // corpus, scores paragraphs)
    val scored = knBigramNll(model.select(col(textCol).as("para")),
      paras, "__pk", "para", discount, k)
    val counts = paras.groupBy(col(idCol)).agg(count(lit(1)).as("n_paras"))
    paras.join(scored, Seq("__pk"))
      .filter(col("kn_nll") <= maxNll)
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("para")))),
            s => s.getField("para")),
          sep).as("text"),
        count(lit(1)).as("n_kept"))
      .join(counts, Seq(idCol))
      .select(col(idCol), col("text"), col("n_paras"), col("n_kept"))
  }

  /** CCNet head/middle/tail perplexity bucketing (Wenzek et al. '20
    * §4.3's other half: after LM scoring, CCNet does not hard-drop —
    * it SORTS each language's documents by perplexity and cuts the
    * distribution into thirds, publishing head/middle/tail as separate
    * corpora so downstream consumers pick their quality/volume
    * trade-off). Scores every document with the interpolated
    * Kneser–Ney bigram LM ([[knBigramNll]]) and assigns each to a
    * bucket by its PERCENTILE within its group (language, source —
    * whatever `groupCol` partitions): percent_rank < headFrac → head,
    * < headFrac + midFrac → middle, else tail. Rank-based, so the cut
    * adapts to each group's own distribution — the reason CCNet
    * buckets per language instead of using one global threshold
    * (languages with thin LMs score systematically higher NLL).
    *
    * Determinism: percent_rank orders by the 6dp-ROUNDED NLL then
    * `idCol` — tied scores still rank deterministically, and because
    * percent_rank assigns EQUAL ranks only to fully-tied (nll, id)
    * keys (ids are unique), the rank — hence the bucket — replays
    * exactly in any engine. A single-document group ranks 0.0 → head.
    *
    * Scale shape: [[knBigramNll]]'s type-bounded scoring joins, then
    * ONE group-keyed window over the narrow (id, group, nll) rows —
    * partitioned by the group column, never an unpartitioned corpus
    * window. Output: idCol, groupCol, n_bigrams, kn_nll, bucket. */
  def perplexityBuckets(model: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, groupCol: String, headFrac: Double = 1.0 / 3,
      midFrac: Double = 1.0 / 3, discount: Double = 0.75,
      k: Double = 0.5): DataFrame = {
    require(headFrac > 0 && midFrac >= 0 && headFrac + midFrac < 1,
      "need 0 < headFrac, 0 <= midFrac, headFrac + midFrac < 1")
    val scored = knBigramNll(model, docs, idCol, textCol, discount, k)
      .join(docs.select(col(idCol), col(groupCol)), Seq(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("kn_nll"), col(idCol))
    scored
      .withColumn("__pr", percent_rank().over(w))
      .withColumn("bucket",
        when(col("__pr") < headFrac, "head")
          .when(col("__pr") < headFrac + midFrac, "middle")
          .otherwise("tail"))
      .select(col(idCol), col(groupCol), col("n_bigrams"), col("kn_nll"),
        col("bucket"))
  }

  /** Sentence/document-level BLEU (Papineni et al. '02) of a candidate
    * column against a reference column — the synthetic-data QA readout
    * [[ngramNovelty]] can't give: HOW CLOSE is each generated text to
    * its source/reference, not merely what fraction of it is new.
    * Per row: modified n-gram precisions p_n = clipped/total for
    * n = 1..maxN (clipped = Σ_g min(count_cand(g), count_ref(g)) — a
    * candidate earns no credit for repeating a gram beyond the
    * reference's count), brevity penalty exp(1 − r/c) when the
    * candidate is shorter than the reference, and
    * bleu = BP·exp(Σ ln p_n / maxN). Any zero p_n ⇒ bleu = 0 (the
    * standard unsmoothed convention; filters treat "no 4-gram overlap"
    * as 0, they don't need the smoothed tail).
    *
    * Scale shape: MAP-ONLY — both count vectors come from ONE native
    * [[graft.functions.NgramClipStats]] pass over the row's two token
    * arrays (the aggregate formulation would explode both sides per
    * order: 2·maxN corpus-sized exchanges); everything downstream is
    * column arithmetic on the struct. Output adds cand_len, ref_len,
    * p1..p{maxN} (6dp), brevity (6dp), bleu (6dp). */
  def bleuScore(df: DataFrame, candCol: String, refCol: String,
      maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8, "maxN in 1..8")
    val withSt = df.withColumn("__b", graft.functions.BleuFunctions
      .ngram_clip_stats(tokens(lower(col(candCol))),
        tokens(lower(col(refCol))), maxN))
    val candLen = col("__b")("cand_len")
    val refLen = col("__b")("ref_len")
    def p(n: Int): Column = {
      val tot = element_at(col("__b")("total"), n)
      when(tot > 0, element_at(col("__b")("clipped"), n).cast("double") /
        tot.cast("double")).otherwise(lit(0.0))
    }
    val anyZero = (1 to maxN).map(n => p(n) === 0.0).reduce(_ || _)
    // candLen == 0 (with a non-empty reference) must fold to bp = 0.0
    // explicitly: Spark's Divide yields NULL on /0 while a double
    // division engine gives exp(-inf) = 0.0 — guard BOTH engines to the
    // same literal rather than lean on either divide-by-zero semantic
    // (the empty-empty pair stays bp = 1.0 via the >= branch)
    val bp = when(candLen >= refLen, lit(1.0))
      .when(candLen === 0, lit(0.0))
      .otherwise(exp(lit(1.0) -
        refLen.cast("double") / candLen.cast("double")))
    val logSum = (1 to maxN).map(n => log(p(n))).reduce(_ + _)
    val bleu = when(candLen === 0 || anyZero, lit(0.0))
      .otherwise(bp * exp(logSum / lit(maxN.toDouble)))
    (1 to maxN).foldLeft(
        withSt.withColumn("cand_len", candLen)
          .withColumn("ref_len", refLen)) { (d, n) =>
        d.withColumn(s"p$n", round(p(n), 6))
      }
      .withColumn("brevity", round(bp, 6))
      .withColumn("bleu", round(bleu, 6))
      .drop("__b")
  }

  /** Sentence/document-level ROUGE-L (Lin '04) of a candidate column
    * against a reference column — the subsequence-order complement of
    * [[bleuScore]]'s n-gram precision: LCS credits tokens that appear
    * IN ORDER but not necessarily contiguously, so a faithful
    * paraphrase with insertions still scores where 4-gram BLEU
    * collapses. Per row: lcs (token LCS length), precision = lcs/|cand|,
    * recall = lcs/|ref|, and the β=1 F-measure 2PR/(P+R) (Lin's
    * recall-weighted β reduces to this at 1; callers wanting
    * recall-only read rouge_r). Empty candidate or reference ⇒ the
    * affected ratios fold to 0.0 explicitly — never NULL (the
    * [[bleuScore]] divide-by-zero guard convention, both engines).
    *
    * Scale shape: MAP-ONLY — the O(n·m) DP runs inside ONE native
    * [[graft.functions.TokenLcs]] pass per row (LCS has no
    * shuffle-based formulation; a HOF spelling would pay interpreted
    * dispatch per DP cell); everything downstream is column
    * arithmetic. Output adds lcs, cand_len, ref_len, rouge_p, rouge_r,
    * rouge_f (6dp). */
  def rougeL(df: DataFrame, candCol: String, refCol: String): DataFrame = {
    val withSt = df.withColumn("__l", graft.functions.LcsFunctions
      .token_lcs(tokens(lower(col(candCol))), tokens(lower(col(refCol)))))
    val lcs = col("__l")("lcs")
    val candLen = col("__l")("cand_len")
    val refLen = col("__l")("ref_len")
    val p = when(candLen === 0, lit(0.0))
      .otherwise(lcs.cast("double") / candLen.cast("double"))
    val r = when(refLen === 0, lit(0.0))
      .otherwise(lcs.cast("double") / refLen.cast("double"))
    val f = when(lcs === 0, lit(0.0))
      .otherwise(lit(2.0) * p * r / (p + r))
    withSt.withColumn("lcs", lcs)
      .withColumn("cand_len", candLen)
      .withColumn("ref_len", refLen)
      .withColumn("rouge_p", round(p, 6))
      .withColumn("rouge_r", round(r, 6))
      .withColumn("rouge_f", round(f, 6))
      .drop("__l")
  }

  /** Character-entropy profile — the cheap per-row gibberish signal the
    * Gopher rules don't carry (they count token shapes; this measures
    * character spread): `n_chars` (code points), `char_entropy` (bits
    * per char, [[graft.functions.CharEntropy]] — 6dp), and
    * `low_entropy` (< threshold — single-char floods, padding runs,
    * trivially compressible spam). Map-only: one codegen'd loop per
    * row, no explode, no shuffle. */
  def charEntropyProfile(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 2.0): DataFrame =
    df.withColumn("n_chars", length(col(textCol)).cast("long"))
      .withColumn("char_entropy",
        round(graft.functions.CharEntropyFunctions.char_entropy(col(textCol)), 6))
      .withColumn("low_entropy", col("char_entropy") < threshold)

  /** Per-document n-gram novelty against a reference corpus — the
    * memorization/quality readout for SYNTHETIC data (Brown et al.'s
    * contamination methodology inverted: instead of dropping overlap,
    * measure per doc how much of it is new): novelty = fraction of the
    * doc's n-gram OCCURRENCES unseen in the reference. Near 0 = the
    * generator parroted its sources; near 1 = nothing grounds it in the
    * reference. Distinct from decontamination (x19/x55 REMOVE overlap)
    * and containment (x58 scores pairwise) — this is corpus-vs-corpus,
    * per doc.
    *
    * Scale shape: the reference collapses to its DISTINCT n-gram set
    * (one aggregate); docs explode their grams once and LEFT-join that
    * set on the gram key (broadcast when small, shuffle equi-join
    * otherwise — Spark's call via AQE); one doc-keyed count-up. Docs
    * shorter than n emit n_grams=0, novelty 0.0 — emitted, not dropped
    * (the corpus-accounting convention). */
  def ngramNovelty(docs: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, "need n >= 1")
    def gramRows(df: DataFrame, cols: Column*): DataFrame = {
      val toks = tokens(lower(col(textCol)))
      // space-joined is unambiguous: tokens cannot contain whitespace
      df.select(cols :+ explode(
        graft.functions.WordGramFunctions.word_grams(toks, n)).as("gram"): _*)
    }
    val refGrams = gramRows(reference).select(col("gram")).distinct()
      .withColumn("__seen", lit(1))
    val scored = gramRows(docs, col(idCol))
      .join(refGrams, Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
    docs.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .na.fill(0L, Seq("n_grams", "n_novel"))
      .na.fill(0.0, Seq("novelty"))
  }

  /** PMI collocation mining — pointwise mutual information over adjacent
    * token pairs, the classic phrase-induction statistic (word2vec's
    * phrase pass, tokenizer multi-word-unit candidates):
    * pmi(a,b) = ln( (c_ab/B) / ((c_a/T)(c_b/T)) ) with T total tokens
    * and B total bigrams. High-PMI pairs co-occur far above chance —
    * candidate multiword units; `minCount` suppresses noise pairs.
    *
    * Scale shape: one bigram aggregate and one unigram aggregate (both
    * vocabulary-sized after map-side combining), two token-keyed joins
    * of the SMALL filtered pair table against unigram counts, scalar
    * totals broadcast back, TakeOrdered top-k. T and B come from ONE
    * cheap per-row scan (sum of token counts / sum of len-1) — not from
    * re-exploding the corpus, which would double the heavy work.
    * Counts become doubles before the ratio so the product cannot
    * overflow long at corpus scale. */
  def pmiCollocations(df: DataFrame, textCol: String, minCount: Long,
      k: Int): DataFrame = {
    require(minCount >= 1 && k >= 1)
    pmiScoredPairs(df, textCol, minCount)
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** The shared PMI pair-scoring stage behind [[pmiCollocations]]
    * (global top-k) and [[pmiTopKPerToken]] (per-token top-k): the
    * minCount-filtered (w1, w2, pair_cnt, pmi) frame. */
  private def pmiScoredPairs(df: DataFrame, textCol: String,
      minCount: Long): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val len = greatest(size(toks) - 1, lit(0))
    val bg = df.select(explode(arrays_zip(
        slice(toks, lit(1), len), slice(toks, lit(2), len))).as("bg"))
      .select(col("bg")("0").as("w1"), col("bg")("1").as("w2"))
    val uni = df.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("__cnt"))
    val pairs = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minCount)
    // identities: T = Σ size(tokens), B = Σ max(size-1, 0) — one
    // narrow scan, no explode, same values the aggregates would give
    val totals = df.agg(
      sum(size(toks)).cast("double").as("__t"),
      sum(len).cast("double").as("__b"))
    pairs
      .join(uni.select(col("w").as("w1"), col("__cnt").as("__c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("__cnt").as("__c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(log(
        col("pair_cnt").cast("double") * col("__t") * col("__t") /
          (col("__b") * col("__c1") * col("__c2"))), 6))
      .select(col("w1"), col("w2"), col("pair_cnt"), col("pmi"))
  }

  /** Per-token collocation neighborhoods — for every left token, its
    * top-k continuations by PMI (the word2vec-phrases / multiword-unit
    * table keyed by head word, where [[pmiCollocations]] gives only the
    * global head). Runs through the custom
    * [[graft.plans.TopKPerGroup]] physical operator: bounded k-heaps
    * per w1 group directly on the one hash exchange — no Sort, no
    * Window buffer — the right shape because the group count is
    * vocab-bounded (and the minCount filter shrinks it further), while
    * the per-group candidate lists it beats a Window on can be as fat
    * as a stopword's continuation set. Unlike [[vocabTopK]] (whose
    * group count is knowable from one cheap distinct-shard count),
    * distinct-w1 here is only learnable from the pair aggregate
    * itself, so the operator's own approx-distinct guard is the right
    * price: one estimate pass, then heaps — or the spillable window
    * formulation when the (open-vocabulary) group count exceeds
    * `TopK.defaultMaxGroups`. Ordering ties break on w2 so the result
    * replays cross-engine. */
  def pmiTopKPerToken(df: DataFrame, textCol: String, minCount: Long,
      kPerToken: Int): DataFrame = {
    require(minCount >= 1 && kPerToken >= 1)
    graft.plans.TopK.perGroup(pmiScoredPairs(df, textCol, minCount),
      Seq("w1"), Seq(("pmi", false), ("w2", true)), kPerToken)
  }

  /** Iterative BPE merge-rule induction (Sennrich et al. 2016) — the
    * tokenizer-training step itself, not just [[bpePairCounts]]'s one
    * round of statistics: starting from characters, repeatedly merge the
    * most frequent adjacent symbol pair (count desc, then (left, right)
    * lexicographic — deterministic) and emit the learned rules in order.
    *
    * Scale architecture: the ONLY corpus-sized work is one distributed
    * word-frequency aggregate; the merge loop then runs driver-side over
    * the vocab-sized (word, freq) state — exactly how production BPE
    * trainers (HuggingFace tokenizers, SentencePiece) are built, because
    * merge rounds are inherently sequential and the state after the
    * aggregate is vocabulary-sized, not corpus-sized. The same
    * bounded-driver-cutover contract as
    * [[graft.ops.Dedup.resolveClusters]]: the collect is capped on
    * ACTUAL row count (`limit(maxVocab+1)`, not a byte estimate) and
    * refuses loudly rather than silently truncating. Symbols are UTF-16
    * code units at round zero (ASCII-safe; the synthetic corpora here
    * are ASCII).
    *
    * Output: (merge_idx, left_sym, right_sym, pair_count) — one row per
    * learned merge, fewer than `numMerges` if pairs run dry. Pair counts
    * are non-increasing across rounds (a merged pair (x, lr) can only
    * appear where (x, l) did), which the spec pins. */
  def bpeLearn(df: DataFrame, textCol: String, numMerges: Int,
      maxVocab: Int = 1000000): DataFrame = {
    require(numMerges >= 1 && maxVocab >= 1)
    val spark = df.sparkSession
    val rows = df
      .select(explode(tokens(lower(col(textCol)))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .limit(maxVocab + 1).collect()
    require(rows.length <= maxVocab,
      s"word vocabulary exceeds maxVocab=$maxVocab; raise the cap (the " +
        "merge loop is driver-side by design — see scaladoc)")
    var words: Array[(Array[String], Long)] = rows.map(r =>
      (r.getString(0).map(_.toString).toArray, r.getLong(1)))
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var i = 0
    var dry = false
    while (i < numMerges && !dry) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- words; j <- 0 until syms.length - 1) {
        val k = (syms(j), syms(j + 1))
        counts(k) = counts.getOrElse(k, 0L) + f
      }
      if (counts.isEmpty) dry = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((i, l, r, c))
        words = words.map { case (syms, f) => (mergePair(syms, l, r), f) }
        i += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("merge_idx", "left_sym", "right_sym", "pair_count")
  }

  /** Apply learned BPE merges ([[bpeLearn]] output) to every document —
    * the ENCODE half of the tokenizer round trip. Each word becomes its
    * space-joined character sequence and the merge rules replay in
    * learned order as plain (non-regex) string replaces; `replace`'s
    * left-to-right non-overlapping semantics are exactly
    * [[bpeLearn]]'s `mergePair`, so encode(learn(corpus)) segments
    * precisely as training did (pinned by spec).
    *
    * Scale shape: the merge list is model-sized driver state burned into
    * a per-row expression chain (one nested `replace` per rule inside a
    * single `transform` lambda — map-only, shuffle-free,
    * whole-stage-codegen'd). Rule counts in the hundreds are the
    * documented envelope: each rule adds one expression node, and
    * codegen splits long chains automatically; a production-sized 30k
    * vocab wants a real tokenizer runtime, not a SQL expression — this
    * op covers the in-engine analysis loop (vocab experiments, token
    * accounting) where merges stay small.
    *
    * Output: input row + `bpe_tokens` (array of symbols in document
    * order) + `n_bpe_tokens`. */
  def bpeEncode(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    // every symbol is wrapped U+001F<sym>U+001F, so the replace pattern
    // "␟l␟ ␟r␟" can only match the EXACT adjacent symbol pair (l, r) —
    // a bare "l r" pattern would also fire when l is a suffix of the
    // left symbol or r a prefix of the right one (merges [(t,h),(h,e)]
    // would fuse "th e" into an out-of-vocab "the"), silently diverging
    // from the trainer's segmentation. Input contract: text must not
    // contain U+001F (unit separator — absent from any real corpus).
    val S = "\u001f"
    val encodeWord: Column => Column = w => {
      // split(w, "") keeps a trailing empty element (limit -1 semantics);
      // drop it or every word gains a phantom symbol
      val spaced = array_join(
        transform(array_remove(split(w, ""), ""),
          c => concat(lit(S), c, lit(S))), " ")
      merges.foldLeft(spaced) { case (acc, (l, r)) =>
        replace(acc, lit(s"$S$l$S $S$r$S"), lit(S + l + r + S))
      }
    }
    val toks = tokens(lower(col(textCol)))
    df.withColumn("bpe_tokens",
        flatten(transform(toks, w =>
          transform(split(encodeWord(w), " "), s => translate(s, S, "")))))
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")))
  }

  /** Unigram-LM tokenizer inference (Kudo '18 — the SentencePiece
    * unigram model's encode step, the tokenizer family BPE is not):
    * every whitespace word in `textCol` is Viterbi-segmented against a
    * GIVEN vocabulary of (piece, log-prob) pairs, maximizing the summed
    * piece log-prob (ties: fewer pieces, then longest final piece —
    * the [[graft.functions.UnigramViterbi]] contract). Unlike
    * [[bpeEncode]]'s greedy merge replay, the DP picks globally-optimal
    * splits — `window` segments as `wi+ndow` (2+4) when that beats the
    * greedy-longest `win+dow` (3+3) on vocab scores.
    *
    * Emits per document: `n_tokens`, `n_oov` (words NO piece path
    * covers — routed to a counter, never silently part-segmented),
    * `n_pieces`, `logp` (summed piece log-prob of segmentable words,
    * round6), and `segm` (pieces joined `+` within a word, words joined
    * by spaces — the human-auditable trace).
    *
    * Shape: MAP-ONLY, fully codegen'd — ONE
    * [[graft.functions.UnigramSegmentProfile]] pass per document (the
    * vocab rides as a plan reference object; cost `len x maxPieceLen`
    * hash probes per word) with NO `transform()` higher-order wrapper: a
    * per-word HOF lambda would evaluate interpreted and block
    * whole-stage codegen — the 8x cliff the 10M-doc smoke measured on
    * the Gopher HOF tower (BASELINE.md r11). Nothing shuffles; at
    * 100 TB tokenizer inference is exactly this embarrassingly-parallel
    * projection. The per-doc `logp` accumulation is order-exact when
    * vocab scores are dyadic (the oracle fixture's contract); arbitrary
    * scores stay correct to the usual 6dp rule. */
  def unigramSegment(df: DataFrame, idCol: String, textCol: String,
      vocab: Seq[(String, Double)]): DataFrame = {
    import graft.functions.UnigramViterbiFunctions.unigram_segment_profile
    df.withColumn("__p", unigram_segment_profile(lower(col(textCol)), vocab))
      .withColumn("n_tokens", col("__p.n_tokens"))
      .withColumn("n_oov", col("__p.n_oov"))
      .withColumn("n_pieces", col("__p.n_pieces"))
      .withColumn("logp", round(col("__p.logp"), 6))
      .withColumn("segm", col("__p.segm"))
      .drop("__p")
  }

  /** WordPiece (BERT) tokenizer inference over documents — greedy
    * longest-match-first against a `##`-continuation vocabulary via the
    * codegen'd [[graft.functions.WordPieceProfile]] expression; same
    * MAP-ONLY shape and HOF-avoidance rationale as [[unigramSegment]]
    * (one reference-object vocab, one primitive loop per document, zero
    * exchanges). Emits n_tokens / n_unk / n_pieces / segm; an UNK word
    * is the single `[UNK]` piece, exactly what a BERT-family model
    * would see. */
  def wordpieceSegment(df: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String]): DataFrame = {
    import graft.functions.WordPieceFunctions.wordpiece_profile
    df.withColumn("__p", wordpiece_profile(lower(col(textCol)), vocab))
      .withColumn("n_tokens", col("__p.n_tokens"))
      .withColumn("n_unk", col("__p.n_unk"))
      .withColumn("n_pieces", col("__p.n_pieces"))
      .withColumn("segm", col("__p.segm"))
      .drop("__p")
  }

  /** Left-to-right non-overlapping application of one merge rule. */
  private def mergePair(syms: Array[String], l: String,
      r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
        out += (l + r); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.toArray
  }

  /** CCNet-style statistical quality score: per-document unigram negative
    * log-likelihood under the corpus's OWN unigram distribution — the
    * in-engine proxy for the KenLM perplexity filters production
    * pipelines run (CCNet, Gopher): off-distribution/gibberish documents
    * score high, repetitive common-token text scores low, and the score
    * needs no external model. Shape: one token-count aggregate, a scalar
    * total broadcast back, one token-keyed join, one per-doc aggregate —
    * only (token, count) pairs ride the shuffles, never document text.
    * The corpus is tokenized twice (count pass + score pass) by the same
    * deliberate trade documented on
    * [[graft.ops.Sampling.mixtureByTokenBudget]]. */
  def unigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("token"))
    val tf = tok.groupBy(col("token")).agg(count(lit(1)).as("__tf"))
    val total = tf.agg(sum(col("__tf")).as("__total"))
    tok.join(tf, Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(-avg(log(col("__tf").cast("double") / col("__total"))), 6)
          .as("unigram_nll"))
  }

  /** Fuzzy decontamination scoring: per document, the MAX n-gram Jaccard
    * against any benchmark document, plus how many benchmark docs share
    * at least one shingle — the doc-level eval-overlap metric (the
    * aggregate-shingle variant is [[contamination]]; this pairwise-max
    * form is what near-duplicate eval leakage checks need, since a doc
    * 90%-identical to ONE eval item can hide behind a low aggregate hit
    * rate). Never a doc x bench cross join: shingle-keyed equi-join, so
    * only co-occurring (doc, bench) pairs materialize; the bench side is
    * tiny at any scale (a benchmark) and broadcasts. Shingles are hashed
    * (8-byte keys; counts equal the string-shingle formulation barring
    * ~2^-64 collision — the [[contamination]] argument). Returns ONE ROW
    * PER INPUT DOC: docs with zero benchmark overlap come back with
    * n_bench_matched=0 / max_jaccard=0.0 (left-joined against the doc-id
    * frame — a cheap column-pruned second scan — rather than silently
    * omitted, so decontamination callers can treat the frame as a full
    * per-doc score table and filter on it directly). */
  def benchMaxJaccard(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, n: Int = 3): DataFrame = {
    def shingleRows(df: DataFrame): DataFrame = df.select(col(idCol),
        array_distinct(graft.functions.ShingleFunctions
          .shingle_hashes(tokens(col(textCol)), n)).as("__shset"))
      .select(col(idCol), explode(col("__shset")).as("__s"),
        size(col("__shset")).as("__sz"))
    val d = shingleRows(docs)
    val b = shingleRows(bench).select(col(idCol).as("__bid"),
      col("__s"), col("__sz").as("__bsz"))
    val scored = d.join(b, Seq("__s"))
      .groupBy(col(idCol), col("__bid"))
      .agg(count(lit(1)).as("__inter"), max(col("__sz")).as("__sz"),
        max(col("__bsz")).as("__bsz"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bench_matched"),
        round(max(col("__inter").cast("double") /
          (col("__sz") + col("__bsz") - col("__inter"))), 6).as("max_jaccard"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bench_matched"), lit(0L)).as("n_bench_matched"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"))
  }

  /** First URL host in a text column ('' when none) — the extraction
    * primitive behind RefinedWeb-style domain filtering (block-list by
    * host, per-domain corpus stats). Pure per-row regexp (no lookarounds,
    * so the pattern is portable to RE2 engines and oracle-checkable);
    * map-only. */
  def urlDomain(text: Column): Column =
    regexp_extract(text, "https?://([^/\\s]+)", 1)

  /** Dataset-mixture diagnostics: KL divergence of each stratum's unigram
    * distribution from the whole corpus's — the QA check run AFTER
    * mixture weighting ([[graft.ops.Sampling.mixtureByTokenBudget]]) to
    * see which sources drift from the blend (a source with KL ~0 looks
    * like the corpus; a high-KL source is off-distribution). One corpus
    * tokenize pass: the global distribution derives from the per-stratum
    * counts by re-aggregation, and that compact (stratum, token) count
    * frame is persisted because THREE consumers branch from it — the
    * dual-consumer recompute trap documented on
    * [[graft.ops.Dedup.minhashLshPairs]]. */
  def sourceTokenKl(df: DataFrame, stratumCol: String,
      textCol: String): DataFrame = {
    val stf = df.select(col(stratumCol).as("src"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("src"), col("token"))
      .agg(count(lit(1)).as("stf"))
      .transform(Caching.scoped)
    stf.count()
    val stot = stf.groupBy(col("src")).agg(sum(col("stf")).as("stot"))
    val gtf = stf.groupBy(col("token")).agg(sum(col("stf")).as("gtf"))
    val gtot = gtf.agg(sum(col("gtf")).as("gtot"))
    val p = col("stf").cast("double") / col("stot")
    val q = col("gtf").cast("double") / col("gtot")
    stf.join(stot, "src").join(gtf, "token")
      .crossJoin(broadcast(gtot))
      .groupBy(col("src"))
      .agg(max(col("stot")).cast("long").as("n_tokens"),
        round(sum(p * log(p / q)), 6).as("kl"))
  }

  /** DoReMi-style domain reweighting (Xie et al. '23, "DoReMi: Optimizing
    * Data Mixtures Speeds Up Language Model Pretraining"): one
    * multiplicative-weights step over per-domain EXCESS LOSS, adapted to
    * the in-engine unigram proxy. DoReMi's excess loss is
    * `proxy_loss - reference_loss` per domain; with unigram LMs as both
    * models — proxy = the global corpus MLE, reference = each domain's own
    * MLE (its irreducible unigram loss) — the excess collapses EXACTLY to
    * `CE_d(global) - H_d(own) = KL(p_d || p_global)`, which is >= 0 by
    * Gibbs' inequality, so DoReMi's clip-at-zero never has to fire except
    * against 6dp rounding noise. The update is the paper's Algorithm 1
    * step: `alpha_d ∝ share_d * exp(eta * excess_d)`, normalized, then
    * mixed with the uniform distribution at rate `smoothing` (the paper's
    * `c * u` term that keeps every domain sampled).
    *
    * Output per domain: `n_tokens`, `share` (baseline token share),
    * `excess` (the KL excess loss), `weight` (the smoothed DoReMi
    * weight), and `resample_factor = weight / share` — the up/down-
    * sampling multiplier a mixture sampler
    * ([[graft.ops.Sampling.mixtureByTokenBudget]]) applies per domain.
    *
    * Shape: ONE corpus tokenize pass into a (domain, token) count frame
    * (persisted — three consumers: domain totals, global totals via
    * re-aggregation, and the KL join); everything after is vocab- or
    * domain-sized with the scalar totals on broadcast. The model state is
    * D rows — at 100 TB the only corpus-scale cost is the one token
    * aggregate every mixture diagnostic already pays. All emitted doubles
    * round6 (the engine-portability rule on [[round6]]); `excess` is
    * rounded BEFORE the exp so the oracle feeds libm the identical
    * argument. */
  def doremiWeights(df: DataFrame, domainCol: String, textCol: String,
      eta: Double = 1.0, smoothing: Double = 0.01): DataFrame = {
    require(eta > 0.0, "step size eta must be positive by contract")
    require(smoothing >= 0.0 && smoothing < 1.0,
      "uniform smoothing rate must sit in [0, 1)")
    val stf = df.select(col(domainCol).as("domain"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("domain"), col("token"))
      .agg(count(lit(1)).as("stf"))
      .transform(Caching.scoped)
    stf.count()
    val stot = stf.groupBy(col("domain")).agg(sum(col("stf")).as("stot"))
    val gtf = stf.groupBy(col("token")).agg(sum(col("stf")).as("gtf"))
    val gtot = gtf.agg(sum(col("gtf")).as("gtot"))
    val p = col("stf").cast("double") / col("stot")
    val q = col("gtf").cast("double") / col("gtot")
    // Per-domain excess loss: KL(p_d || p_global), round6'd, clipped at 0
    // against rounding noise; share round6'd on the same rule.
    val perDomain = stf.join(stot, "domain").join(gtf, "token")
      .crossJoin(broadcast(gtot))
      .groupBy(col("domain"))
      .agg(max(col("stot")).cast("long").as("n_tokens"),
        round(max(col("stot").cast("double") / col("gtot")), 6).as("share"),
        greatest(lit(0.0), round(sum(p * log(p / q)), 6)).as("excess"))
      .withColumn("__unnorm", col("share") * exp(lit(eta) * col("excess")))
    val norm = perDomain.agg(sum(col("__unnorm")).as("__z"),
      count(lit(1)).as("__d"))
    perDomain.crossJoin(broadcast(norm))
      .withColumn("weight", round(
        lit(1.0 - smoothing) * col("__unnorm") / col("__z") +
          lit(smoothing) / col("__d"), 6))
      .withColumn("resample_factor", round(col("weight") / col("share"), 6))
      .select(col("domain"), col("n_tokens"), col("share"), col("excess"),
        col("weight"), col("resample_factor"))
  }

  /** Distribution profile for corpus QA: per-stratum quantiles of document
    * length (chars) and token count — the histogram-shaped view a data-prep
    * report needs next to x33's means (a mean hides the short-doc spike and
    * the long tail that drive filter thresholds). Computes BOTH the exact
    * `percentile` (interpolating — what the DuckDB oracle replays as
    * quantile_cont) and the mergeable `percentile_approx` sketch, and emits
    * per-metric booleans asserting the sketch landed within `relTol` of
    * exact at every probe. At report granularity (one row per stratum) the
    * exact path is affordable; the SKETCH is the 100 TB answer — GK-style,
    * bounded memory, partial-aggregable, no per-group sort — and the
    * booleans keep the query oracle-checkable (the x17 pattern) while
    * pinning that the scale path agrees with the exact one. `accuracy`
    * 10000 bounds rank error at n/10000 ranks. */
  def distributionProfile(df: DataFrame, stratumCol: String,
      textCol: String, relTol: Double = 0.05,
      accuracy: Int = 10000): DataFrame = {
    val probs = "array(0.25D, 0.5D, 0.75D, 0.95D)"
    // sketch-vs-exact agreement at every probe. Branch on e === 0 FIRST:
    // abs(a-e)/abs(e) is NULL when e is 0 (Spark division by zero), and
    // `(a===0 && e===0) || NULL` is NULL, which forall would propagate
    // into the ok-boolean — an all-empty-text stratum must yield a
    // definite true/false, never NULL (ADVICE r5)
    def withinTol(approxCol: String, exactCol: String): Column =
      forall(zip_with(col(approxCol), col(exactCol),
        (a, e) => when(e === 0.0, a === 0.0)
          .otherwise(abs(a - e) / abs(e) <= lit(relTol))), x => x)
    df.select(col(stratumCol),
        length(col(textCol)).cast("double").as("__len"),
        tokenCount(col(textCol)).cast("double").as("__tok"))
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"),
        expr(s"percentile(__len, $probs)").as("__lp"),
        expr(s"percentile_approx(__len, $probs, $accuracy)").as("__lpa"),
        expr(s"percentile(__tok, $probs)").as("__tp"),
        expr(s"percentile_approx(__tok, $probs, $accuracy)").as("__tpa"))
      .select(col(stratumCol), col("n_docs"),
        round(element_at(col("__lp"), 1), 6).as("len_p25"),
        round(element_at(col("__lp"), 2), 6).as("len_p50"),
        round(element_at(col("__lp"), 3), 6).as("len_p75"),
        round(element_at(col("__lp"), 4), 6).as("len_p95"),
        round(element_at(col("__tp"), 1), 6).as("tok_p25"),
        round(element_at(col("__tp"), 2), 6).as("tok_p50"),
        round(element_at(col("__tp"), 3), 6).as("tok_p75"),
        round(element_at(col("__tp"), 4), 6).as("tok_p95"),
        withinTol("__lpa", "__lp").as("len_sketch_ok"),
        withinTol("__tpa", "__tp").as("tok_sketch_ok"))
  }

  /** Boilerplate DISCOVERY: the k most frequent paragraphs across the
    * corpus with occurrence and document counts — the mining pass that
    * produces the block-list feeding boilerplate REMOVAL (C4/Dolma-style
    * common-paragraph pruning builds exactly this table first). Counting
    * groups on the 8-byte paragraph digest (the
    * [[graft.ops.Dedup.exactByDigest]] argument — text never rides the
    * shuffle as a key); the text itself survives as min(para), which IS
    * the group's one distinct value barring digest collision. The global
    * top-k is small, so it plans TakeOrderedAndProject, never a full
    * sort; ties break by text for a total order. */
  def commonParagraphs(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n", k: Int = 20): DataFrame = {
    val paras = df.select(col(idCol).as("id"),
      explode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as("para"))
    paras.groupBy(xxhash64(col("para")).as("__d"))
      .agg(min(col("para")).as("para"),
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("id")).as("n_docs"))
      .drop("__d")
      .orderBy(col("n_occurrences").desc, col("para"))
      .limit(k)
  }

  /** Next-token statistics: the k most frequent successors per prefix
    * token with counts — the bigram conditional-frequency table a
    * tokenizer / LM-data diagnostics stage builds. Bigrams come from
    * zipping the token array with its own tail (`arrays_zip` of two
    * slices): the token expression is re-inlined a constant number of
    * times PER ROW — deliberately NOT `transform(sequence, i =>
    * element_at(toks, ...))`, whose lambda would re-inline (and
    * re-evaluate) the tokenize under Spark's interpreted higher-order
    * path once per ELEMENT, turning a linear pass quadratic (the exact
    * failure mode documented on [[graft.ops.Dedup.minhashSignature]]).
    * The per-prefix top-k runs the spillable window formulation because
    * prefix cardinality is vocabulary-sized — unbounded at corpus scale,
    * exactly the case [[graft.plans.TopK.windowPerGroup]] is the designed
    * answer for. Ties break (freq desc, next asc): total order, so the
    * result is deterministic and SQL-oracle-checkable. */
  def nextTokenTopK(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val t = tokens(lower(col(textCol)))
    val len = greatest(size(t) - 1, lit(0))
    val pairs = df
      .select(explode(arrays_zip(
        slice(t, lit(1), len), slice(t, lit(2), len))).as("bg"))
      .select(col("bg")("0").as("prefix"), col("bg")("1").as("next_token"))
    val counts = pairs.groupBy(col("prefix"), col("next_token"))
      .agg(count(lit(1)).as("pair_freq"))
    graft.plans.TopK.windowPerGroup(counts, Seq("prefix"),
      Seq(("pair_freq", false), ("next_token", true)), k)
  }

  /** Overlapping token-window chunking — the context-window prep step for
    * RAG indexing / long-document training: each document yields chunks of
    * `chunkTokens` tokens starting every `chunkTokens - overlap` tokens
    * (the final chunk may run short; a chunk is emitted only if it adds at
    * least one new token, and empty documents yield no chunks). Pure
    * per-row array expressions (sequence + posexplode + slice):
    * shuffle-free, embarrassingly parallel, deterministic — chunk_idx =
    * start/stride, so the assignment is reproducible and SQL-checkable. */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && chunkTokens > overlap,
      "chunk size must exceed overlap")
    val stride = chunkTokens - overlap
    val toks = tokens(col(textCol))
    val starts = when(size(toks) === 0, array().cast("array<int>"))
      .when(size(toks) <= overlap, array(lit(0)))
      .otherwise(sequence(lit(0), size(toks) - overlap - 1, lit(stride)))
    df.select(col(idCol), posexplode(starts).as(Seq("chunk_idx", "__start")),
        toks.as("__toks"))
      .select(col(idCol), col("chunk_idx"),
        size(slice(col("__toks"), col("__start") + 1, lit(chunkTokens)))
          .as("n_chunk_tokens"),
        concat_ws(" ", slice(col("__toks"), col("__start") + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  /** Contrastive training pairs from adjacent chunks — the SimCSE/
    * Contriever-style self-supervision recipe: two neighboring spans of
    * one document are a positive pair (same topic, different surface),
    * and everything else in the training batch serves as in-batch
    * negatives (a batching-time concern — this operator materializes
    * the pairs). Chunks are non-overlapping `chunkTokens` windows; pair
    * i = (chunk i, chunk i+1), so a doc with fewer than chunkTokens+1
    * tokens emits nothing (a pair needs two non-empty spans — the
    * second chunk may be short, never empty).
    *
    * Map-only: tokenize once behind a projection boundary, one explode
    * over pair indices, two slices per row. No shuffle, no join — the
    * downstream embedding trainer shuffles batches, not this. */
  def contrastivePairs(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0)
    val tokd = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val len = size(col("__toks"))
    // number of chunks = ceil(len / chunkTokens); the true-division +
    // truncating cast is exact here (per-doc token counts are ints,
    // double holds them losslessly)
    val nChunks = ((len + chunkTokens - 1) / chunkTokens).cast("int")
    val pairIdx = when(nChunks >= 2,
        sequence(lit(0), (nChunks - 2).cast("int")))
      .otherwise(array().cast("array<int>"))
    tokd.select(col(idCol), explode(pairIdx).as("pair_id"),
        col("__toks"))
      .select(col(idCol), col("pair_id"),
        concat_ws(" ", slice(col("__toks"),
          col("pair_id") * chunkTokens + 1, lit(chunkTokens))).as("anchor"),
        concat_ws(" ", slice(col("__toks"),
          (col("pair_id") + 1) * chunkTokens + 1, lit(chunkTokens)))
          .as("positive"))
  }

  /** TF-IDF top-`k` terms per document: term frequency per (doc, token),
    * document frequency per token, idf = ln(N/df), ranked per doc through
    * the bounded-heap [[graft.plans.TopK]] operator. Shape: ONE tokenize +
    * explode feeds both aggregates; the df side reduces to the (small)
    * distinct-token frame, which re-joins the tf frame on the token — at
    * corpus scale that join hash-partitions on the token (both sides
    * already reduced), never touching raw text again. The exploded token
    * frame is deliberately NOT persisted across its two consumers: it is
    * strictly larger than the corpus, so two cheap codegen'd scan+tokenize
    * passes beat caching a corpus-sized intermediate (the opposite call
    * from the LSH candidate persist, where the cached frame is tiny).
    * Catalyst broadcasts the reduced df frame into the tf join at harness
    * scale (verified in the plan). Scores are
    * `round(tf * ln(N/df), 6)`; (tf, df) are integers so equal pairs tie
    * exactly and the token breaks them — a deterministic total order. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val exploded = df
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("token"))
    val nDocs = df.count()
    val tf = exploded.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = exploded.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("token"))
      .withColumn("tfidf",
        round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6))
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("tfidf"))
    // group cardinality == nDocs, already counted above — skip perGroup's
    // estimate pass (it would recompute the tf+df join subtree once extra)
    val order = Seq(("tfidf", false), ("token", true))
    if (nDocs <= graft.plans.TopK.defaultMaxGroups)
      graft.plans.TopK.perGroup(scored, Seq("doc_id"), order, k,
        maxGroups = Long.MaxValue)
    else graft.plans.TopK.windowPerGroup(scored, Seq("doc_id"), order, k)
  }

  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "pas"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "no"))

  /** N-gram/stopword-profile language ID: score = count of profile words
    * present, argmax wins ("und" beats "the" counts etc.); ties resolve in
    * profile order; no profile hit -> "unknown". ONE native
    * [[graft.functions.TokenProfile]] pass scores all profiles per row —
    * no explode, no doc-id exchange, no join-back (the former formulation
    * is kept as [[languageIdAgg]] and pinned value-identical by spec). */
  def languageId(df: DataFrame, textCol: String = "text",
      outCol: String = "predicted_lang", idCol: String = "doc_id"): DataFrame = {
    val prof = graft.functions.TokenProfileFunctions
      .token_profile(tokens(col(textCol)), profiles.map(_._2))
    val withScores = df.withColumn("__lp", prof)
    val scoreOf: Int => org.apache.spark.sql.Column =
      i => element_at(col("__lp.hits"), i + 1)
    val best = profiles.indices.foldRight(lit("unknown")) { (i, els) =>
      when(scoreOf(i) > 0 &&
        profiles.indices.filter(_ != i)
          .map(o => scoreOf(i) >= scoreOf(o))
          .reduce(_ && _), lit(profiles(i)._1)).otherwise(els)
    }
    withScores.withColumn(outCol, best).drop("__lp")
  }

  /** The explode + aggregate + join-back formulation — the cross-check
    * reference for [[languageId]] (same values, one extra exchange). */
  private[graft] def languageIdAgg(df: DataFrame, textCol: String = "text",
      outCol: String = "predicted_lang", idCol: String = "doc_id"): DataFrame = {
    val scoreCols = profiles.map { case (lang, words) =>
      coalesce(sum(when(col("tok").isin(words: _*), 1).otherwise(0)), lit(0L))
        .cast("int").as(s"score_$lang")
    }
    val scored = df
      .select(col(idCol).as("__lid"), explode_outer(tokens(lower(col(textCol)))).as("tok"))
      .groupBy(col("__lid"))
      .agg(scoreCols.head, scoreCols.tail: _*)
    val best = profiles.map(_._1).foldRight(lit("unknown")) { (lang, els) =>
      when(col(s"score_$lang") > 0 &&
        profiles.map(_._1).filter(_ != lang)
          .map(o => col(s"score_$lang") >= col(s"score_$o"))
          .reduce(_ && _), lit(lang)).otherwise(els)
    }
    df.join(scored, col(idCol) === col("__lid"), "left").drop("__lid")
      .withColumn(outCol, best)
      .drop(profiles.map(p => s"score_${p._1}"): _*)
  }

  /** Rolling-hash document fingerprint: xxhash64 over each w-token shingle,
    * fingerprint = (min, max, xor) of the shingle hashes — a compact,
    * order-sensitive content signature (winnowing-style min selection).
    * ONE native [[graft.functions.MinMaxXor]] fold per row over the native
    * shingle hashes — no explode, no doc-id exchange, no join-back (the
    * aggregate formulation is kept as [[fingerprintAgg]] and pinned
    * bit-identical by spec). */
  def fingerprint(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 8): DataFrame = {
    val fp = graft.functions.MinMaxXorFunctions.min_max_xor(
      graft.functions.ShingleFunctions.shingle_hashes(tokens(col(textCol)), w))
    df.withColumn("__fp", fp)
      .withColumn("fp_min", col("__fp.min"))
      .withColumn("fp_max", col("__fp.max"))
      .withColumn("fp_xor", col("__fp.xor"))
      .drop("__fp")
  }

  /** [[fingerprint]] on the PORTABLE md5 hash family
    * ([[graft.functions.Md5ShingleHashes]]): identical min/max/xor
    * reduction over w-token shingles whose hashes an external engine
    * derives from `h60(s) = CAST('0x'||substring(md5(s),1,15) AS
    * BIGINT)` — the oracle-checkable twin (same contract as the
    * portable minhash/simhash families; production fingerprinting
    * should prefer [[fingerprint]]'s xxhash64 rolling combine, which
    * never materializes shingle strings). */
  def fingerprintPortable(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 8): DataFrame = {
    val fp = graft.functions.MinMaxXorFunctions.min_max_xor(
      graft.functions.Md5ShingleFunctions.md5_shingle_hashes(
        tokens(col(textCol)), w))
    df.withColumn("__fp", fp)
      .withColumn("fp_min", col("__fp.min"))
      .withColumn("fp_max", col("__fp.max"))
      .withColumn("fp_xor", col("__fp.xor"))
      .drop("__fp")
  }

  /** The explode + grouped min/max/bit_xor formulation — the cross-check
    * reference for [[fingerprint]] (same values, one extra exchange). */
  private[graft] def fingerprintAgg(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 8): DataFrame = {
    val fps = df
      .select(col(idCol).as("fp_id"),
        explode(graft.functions.ShingleFunctions
          .shingle_hashes(tokens(col(textCol)), w)).as("h"))
      .groupBy(col("fp_id"))
      .agg(min(col("h")).as("fp_min"), max(col("h")).as("fp_max"),
        expr("bit_xor(h)").as("fp_xor"))
    df.join(fps, col(idCol) === col("fp_id"), "left").drop("fp_id")
  }

  /** HTML/markup text extraction — the crawl-pipeline WET step
    * (Common-Crawl-style): drop script and style blocks wholesale
    * (their content is code, not text), drop comments, strip remaining
    * tags, decode the six ubiquitous entities (amp/lt/gt/quot/#39/nbsp
    * — `&amp;` LAST so double-escaped text decodes one level, the
    * standard convention), collapse all whitespace runs to one space,
    * trim. Map-only regex+replace chain, shuffle-free,
    * whole-stage-codegen'd; patterns use inline `(?is)` flags and
    * non-greedy spans only — RE2-portable, so an external engine (or
    * the DuckDB oracle) replays the chain verbatim. Adds `extracted`
    * plus `extracted_chars` (post-extraction length — the field a
    * crawl-QA report thresholds on: markup-only pages land at 0). */
  def extractHtmlText(df: DataFrame, htmlCol: String = "html",
      outCol: String = "extracted"): DataFrame = {
    val noBlock = regexp_replace(col(htmlCol),
      "(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noBlock, "(?s)<!--.*?-->", " ")
    val noTag = regexp_replace(noComment, "(?s)<[^>]+>", " ")
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTag) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    val clean = trim(regexp_replace(decoded, "[ \\t\\r\\n]+", " "))
    df.withColumns(Map(outCol -> clean,
      "extracted_chars" -> length(clean)))
  }

  /** The classic UTF-8-read-as-cp1252 double-encoding artifacts and
    * their repairs: 3-byte punctuation first group (curly quotes,
    * dashes, ellipsis — all start â), then 2-byte Latin-1 letters (Ã x)
    * and symbols (Â x). Inputs all start with â/Ã/Â and outputs never
    * do, so the fold order cannot cascade; sequences are mutually
    * non-overlapping. Single-level repair by design — doubly-mangled
    * text needs a second pass, the standard ftfy convention. */
  private val mojibakeTable: Seq[(String, String)] = Seq(
    "\u00e2\u20ac\u2122" -> "\u2019", // right single quote
    "\u00e2\u20ac\u02dc" -> "\u2018", // left single quote
    "\u00e2\u20ac\u0153" -> "\u201c", // left double quote
    "\u00e2\u20ac\u201c" -> "\u2013", // en dash
    "\u00e2\u20ac\u201d" -> "\u2014", // em dash
    "\u00e2\u20ac\u00a6" -> "\u2026", // ellipsis
    "\u00c3\u00a1" -> "\u00e1", // a-acute
    "\u00c3\u00a9" -> "\u00e9", // e-acute
    "\u00c3\u00a8" -> "\u00e8", // e-grave
    "\u00c3\u00ad" -> "\u00ed", // i-acute
    "\u00c3\u00b3" -> "\u00f3", // o-acute
    "\u00c3\u00ba" -> "\u00fa", // u-acute
    "\u00c3\u00b1" -> "\u00f1", // n-tilde
    "\u00c3\u00a7" -> "\u00e7", // c-cedilla
    "\u00c3\u00a4" -> "\u00e4", // a-umlaut
    "\u00c3\u00b6" -> "\u00f6", // o-umlaut
    "\u00c3\u00bc" -> "\u00fc", // u-umlaut
    "\u00c2\u00b0" -> "\u00b0", // degree
    "\u00c2\u00b7" -> "\u00b7", // middle dot
    "\u00c2\u00a0" -> "\u00a0") // nbsp

  /** Mojibake repair — undo the most common encoding mangle in web
    * crawls, UTF-8 bytes decoded as cp1252/Latin-1 ("cafÃ©",
    * "donâ€™t"): a fixed table of artifact→original replacements (the
    * ftfy-lite every CCNet-grade pipeline runs before
    * [[normalizeText]], which then unifies the RESTORED curly
    * punctuation to ASCII). Map-only non-regex replace chain,
    * shuffle-free, whole-stage-codegen'd, engine-portable (the oracle
    * replays it via codepoint-built literals). Adds `repaired` plus
    * the `changed` flag, both bound against the input in one
    * `withColumns` (the [[normalizeText]] in-place convention). */
  def repairMojibake(df: DataFrame, textCol: String = "text",
      outCol: String = "repaired"): DataFrame = {
    val fixed = mojibakeTable.foldLeft(col(textCol)) {
      case (c, (bad, good)) => replace(c, lit(bad), lit(good))
    }
    df.withColumns(Map(outCol -> fixed, "changed" -> (fixed =!= col(textCol))))
  }

  /** Tokenizer-vocabulary coverage — per-document OOV accounting
    * against a fixed vocabulary (the QA gate run before committing a
    * tokenizer to a corpus, or a corpus to a tokenizer: a doc slice
    * with high OOV rate is script/encoding drift the vocab won't
    * serve). Output: every input id with n_tokens, n_oov, oov_rate
    * (6dp; empty docs emitted at 0/0/0.0, per the corpus accounting
    * convention).
    *
    * Scale shape: the vocabulary is MODEL state (bounded by tokenizer
    * vocab size) and rides a broadcast into the membership left-join —
    * the corpus side never shuffles for it; the per-doc regroup's
    * map-side partial aggregation collapses each partition to ~one row
    * per document before the only exchange, so just (id, counts) pairs
    * travel. No driver-side literal-array membership on purpose: a
    * literal array scans O(|vocab|) per token (and a literal map is a
    * linear probe too) — the broadcast hash join is the lookup that
    * scales. */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, vocabCol: String): DataFrame = {
    // the corpus side case-folds (tokens(lower(...))), so the vocab must
    // fold identically or cased entries ('The', 'I') silently never match
    val v = vocab.select(lower(col(vocabCol)).as("__vw")).distinct()
    val perDoc = df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("__w"))
      .join(broadcast(v), col("__w") === col("__vw"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__vw").isNull, 1)).as("n_oov"))
    df.select(col(idCol)).distinct()
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_tokens", "n_oov"))
      .withColumn("oov_rate", when(col("n_tokens") === 0, lit(0.0))
        .otherwise(round(col("n_oov").cast("double") /
          col("n_tokens").cast("double"), 6)))
  }

  /** Heavy-hitter tokens via the [[graft.functions.MisraGries]] sketch
    * — top-k frequent items with O(capacity) state per partition, for
    * when the key domain is open-ended (URLs, hosts, shingles) and a
    * vocab-sized exact aggregate is the thing to avoid. The shuffle
    * carries one capacity-sized sketch per partition — nothing
    * key-domain-sized ever travels. Output: (token, est, max_err) top-k
    * by estimate (token tie-break); `est ≤ true ≤ est + max_err`
    * always, and when capacity ≥ distinct keys the result is exact
    * (max_err = 0) and partitioning-independent — the regime the x82
    * oracle pins. For bounded vocabularies where exactness matters,
    * [[vocabTopK]] / plain aggregation remain the right tool. */
  def frequentTokens(df: DataFrame, textCol: String, capacity: Int,
      k: Int): DataFrame = {
    require(k >= 1 && k <= capacity, "need 1 <= k <= capacity")
    val mg = udaf(new graft.functions.MisraGries(capacity),
      org.apache.spark.sql.Encoders.STRING)
    df.select(explode(tokens(lower(col(textCol)))).as("w"))
      .agg(mg(col("w")).as("sk"))
      .select(explode(col("sk._1")), col("sk._2").as("max_err"))
      .withColumnRenamed("key", "token")
      .withColumnRenamed("value", "est")
      .orderBy(col("est").desc, col("token").asc)
      .limit(k)
      .select(col("token"), col("est"), col("max_err"))
  }

  /** BM25 top-k lexical retrieval — the classic probabilistic ranking
    * (Robertson/Sparck-Jones; Lucene's default) over whitespace tokens:
    * score(q,d) = Σ_t∈q idf(t) · tf/(tf + k1·(1−b + b·dl/avgdl)) with
    * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1) (the Lucene spelling,
    * always positive). The training-pipeline use: retrieve corpus
    * neighbors of benchmark prompts for decontamination review, or of
    * seed documents for targeted data curation — the lexical
    * counterpart of [[graft.ops.IVF]]'s embedding search. Query terms
    * are DISTINCT per query (standard short-query simplification).
    *
    * Scale shape: the query frame is small by contract (it broadcasts —
    * same bounded-side contract as IVF's probe frame); the corpus is
    * huge. Document text is scanned exactly twice: one narrow pass for
    * the corpus scalars (N, avgdl), and one posting-build pass where
    * the broadcast query-vocab semi-join filters the exploded tokens
    * BEFORE the (doc, term) aggregate — only rows whose term appears in
    * some query ever ride a shuffle. The resulting posting-list union
    * (Σ_t∈queries df(t) rows — exactly what a retrieval engine
    * materializes for these queries) feeds TWO consumers (the df
    * regroup and the scoring join — neither re-reads text), so it is
    * persisted, the [[sourceTokenKl]] convention. Per-term df is NOT computed as a
    * count-window over term partitions on purpose: a stopword term's
    * partition is corpus-wide (skew), while the regroup's map-side
    * partial aggregation never moves more than |query vocab| rows per
    * task. Top-k lands as a rank over (query, score) — query-count
    * partitions, each df(q)-bounded. Output: qidCol, idCol, rank,
    * score (6dp — ranked on the ROUNDED value with the doc id as
    * tie-break, so the ordering replays on any engine), n_terms
    * (matched query terms). Queries with no matching term emit no rows;
    * docs match only via shared terms. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, "need k >= 1 results per query")
    require(k1 >= 0 && b >= 0 && b <= 1, "k1 >= 0, 0 <= b <= 1")
    val toks = tokens(lower(col(textCol)))
    // corpus scalars: one narrow per-row scan (token counts only)
    val stats = docs.agg(count(lit(1)).cast("double").as("__n"),
      avg(size(toks)).as("__avgdl"))
    val qterms = queries.select(col(qidCol),
      explode(array_distinct(tokens(lower(col(qtextCol))))).as("term"))
    val qvocab = qterms.select(col("term")).distinct()
    val posting = docs
      .select(col(idCol), size(toks).as("__dl"), explode(toks).as("term"))
      .join(broadcast(qvocab), Seq("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("__tf"), max(col("__dl")).as("__dl"))
      .transform(Caching.scoped)
    posting.count()
    val dfreq = posting.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    val scored = posting
      .join(broadcast(dfreq), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0))
      .withColumn("__contrib", col("__idf") * col("__tf") /
        (col("__tf") + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("__dl") / col("__avgdl"))))
      .groupBy(col(qidCol), col(idCol))
      .agg(round(sum(col("__contrib")), 6).as("score"),
        count(lit(1)).as("n_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("score").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol), col("rank"), col("score"),
        col("n_terms"))
  }

  /** Zipf rank-frequency profile — the one-row corpus shape summary a
    * data-prep QA report leads with: natural text follows freq ∝
    * rank^s with s ≈ −1, and a corpus whose fitted slope drifts far
    * from −1 (template floods flatten it, artifact tokens steepen the
    * head) warrants a look before training. Fits ordinary least
    * squares of ln(freq) on ln(rank) over the top `topN` ranks
    * (rank ties broken by token asc, so the rank assignment — and
    * therefore the fit — replays identically on any engine).
    *
    * Scale shape: ONE corpus tokenize pass builds the vocab-sized
    * count frame, persisted for its two consumers (vocab size + the
    * top-N head) per the [[sourceTokenKl]] convention; total token
    * mass derives from the counts themselves (no second corpus scan).
    * The top-N head lands driver-side via TakeOrdered (topN rows, no
    * vocab-wide window), and the regression runs on that topN-row
    * frame. Output (one row): n_tokens, n_vocab, zipf_slope (6dp),
    * top_coverage (share of token mass in the top-N ranks, 6dp). */
  def zipfProfile(df: DataFrame, textCol: String = "text",
      topN: Int = 100): DataFrame = {
    require(topN >= 2, "need at least 2 ranks to fit a slope")
    val uni = Caching.scoped(
      df.select(explode(tokens(lower(col(textCol)))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("__cnt")))
    uni.count()
    val totals = uni.agg(sum(col("__cnt")).as("__t"),
      count(lit(1)).as("__nv"))
    // The top-N head is <= topN rows via TakeOrdered (already the plan
    // shape) — collect it and assign ranks on the driver rather than
    // running a global window over it: a literal partitionBy key is
    // optimizer-eliminated in Spark 4, so the window would execute as an
    // unpartitioned WindowExec and warn (r9 verdict). Collect order IS
    // the rank order (TakeOrderedAndProject returns sorted rows), and
    // the regression still runs as a Spark aggregate so the oracle
    // replays the identical regr_slope arithmetic.
    val spark = df.sparkSession
    val headRows: Seq[org.apache.spark.sql.Row] =
      uni.orderBy(col("__cnt").desc, col("w").asc).limit(topN).collect()
        .toSeq.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(r.getLong(1), (i + 1).toLong)
        }
    val headSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__cnt",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("__rank",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val fit = spark.createDataFrame(
        java.util.Arrays.asList(headRows: _*), headSchema)
      .agg(expr("regr_slope(ln(__cnt), ln(__rank))").as("__slope"),
        sum(col("__cnt")).as("__headmass"))
    fit.crossJoin(broadcast(totals))
      .select(col("__t").as("n_tokens"), col("__nv").as("n_vocab"),
        round(col("__slope"), 6).as("zipf_slope"),
        round(col("__headmass").cast("double") /
          col("__t").cast("double"), 6).as("top_coverage"))
  }

  /** Vocabulary-growth curve + Heaps-law fit (Heaps '78: V(N) ≈ K·N^β,
    * the other corpus power law next to [[zipfProfile]]'s rank/frequency
    * fit) — the budgeting readout behind "how much NEW vocabulary does
    * the next crawl shard buy": per shard (in `shardCol` order),
    * shard token occurrences, NEW types (tokens whose FIRST shard this
    * is), the cumulative totals, and the fitted Heaps exponent β =
    * slope of ln V on ln N over the per-shard cumulative points
    * ([[Stats.groupedOls]] — the 6dp micro-grid makes the fit
    * engine-exact) stamped on every row with its r².
    *
    * Scale shape: ONE token-keyed aggregate (first shard + occurrence
    * count per type — map-side partials), ONE shard-keyed rollup
    * (shard-count-sized), cumulative sums on the DRIVER over the
    * shard-count-sized rows (the [[Packing.globalTokenOffsets]]
    * two-level discipline — no corpus-wide window, no unpartitioned
    * WindowExec), and the OLS on the same driver-small frame. Shards
    * order by their natural value; empty docs contribute nothing.
    * `gramW` > 1 counts w-GRAM types instead of unigrams (the
    * [[Dedup.shingles]] window semantics, whole-text gram for short
    * docs) — the open-vocabulary view a bounded-vocab corpus needs for
    * the power law to be visible at all. Gram STRINGS ride the type
    * aggregate here (oracle-friendly); at crawl scale swap the type
    * key to hashed grams ([[graft.functions.ShingleFunctions
    * .shingle_hashes]] — no gram materialization, the
    * interpreted-HOF cliff documented on [[Dedup.minhashSignatures]]
    * avoided), identical counts up to negligible 64-bit collisions. */
  def vocabGrowth(df: DataFrame, shardCol: String,
      textCol: String = "text", gramW: Int = 1): DataFrame = {
    require(gramW >= 1, "gramW must be positive")
    val spark = df.sparkSession
    val types =
      if (gramW == 1) tokens(lower(col(textCol)))
      else Dedup.shingles(tokens(lower(col(textCol))), gramW)
    val tok = df.select(col(shardCol).as("__s"),
      explode(types).as("__w"))
    // per type: first shard + per (shard, type) occurrences in one
    // narrow aggregate, then the two shard-keyed rollups
    val perShardType = tok.groupBy(col("__s"), col("__w"))
      .agg(count(lit(1)).as("__c")).persist()
    perShardType.count()
    val occ = perShardType.groupBy(col("__s"))
      .agg(sum(col("__c")).as("__occ"))
    val firstShard = perShardType.groupBy(col("__w"))
      .agg(min(col("__s")).as("__fs"))
      .groupBy(col("__fs")).agg(count(lit(1)).as("__new"))
    val rows = occ.join(firstShard, occ("__s") === firstShard("__fs"),
        "left")
      .select(col("__s"), col("__occ"),
        coalesce(col("__new"), lit(0L)).as("__new"))
      .orderBy(col("__s")).collect()
    perShardType.unpersist()
    var cumT = 0L; var cumV = 0L
    val out: Seq[org.apache.spark.sql.Row] = rows.toSeq.map { r =>
      cumT += r.getLong(1); cumV += r.getLong(2)
      org.apache.spark.sql.Row(r.get(0), r.getLong(1), r.getLong(2),
        cumT, cumV)
    }
    // explicit schema: the shard column keeps the CALLER's type (a
    // tuple encoder would see Any and fail)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(shardCol,
        df.schema(shardCol).dataType),
      org.apache.spark.sql.types.StructField("shard_tokens",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("new_types",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cum_tokens",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cum_vocab",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val growth = spark.createDataFrame(
      java.util.Arrays.asList(out: _*), schema)
    val fit = Stats.groupedOls(
      growth.select(lit(1).as("__g"), log(col("cum_tokens")).as("__x"),
        log(col("cum_vocab")).as("__y")), "__g", "__x", "__y")
      .select(col("slope").as("heaps_beta"), col("r2").as("heaps_r2"))
    growth.crossJoin(broadcast(fit))
  }

  /** Token frequency spectrum + Turing estimates (Good '53) — the
    * count-of-counts table every Good–Turing-smoothed LM starts from:
    * for each observed frequency r ≤ maxR, the number of types n_r
    * seen exactly r times, the adjusted count r* = (r+1)·n_{r+1}/n_r
    * (0 when n_{r+1} is unobserved — the raw estimator's known tail
    * hole; smoothed variants regress the spectrum first), and the
    * Good–Turing unseen mass p0 = n_1/N stamped on every row.
    *
    * Scale shape: ONE token-keyed count, ONE count-keyed count (the
    * spectrum — at most maxR + tail rows survive the filter), the
    * n_{r+1} lookup as a self-join on r + 1 = r' (no window: the
    * spectrum frame is tiny but a windowed spelling would be an
    * unpartitioned WindowExec), totals broadcast. */
  def frequencySpectrum(df: DataFrame, textCol: String = "text",
      maxR: Int = 20, gramW: Int = 1): DataFrame = {
    require(maxR >= 1, "maxR must be positive")
    require(gramW >= 1, "gramW must be positive")
    val types =
      if (gramW == 1) tokens(lower(col(textCol)))
      else Dedup.shingles(tokens(lower(col(textCol))), gramW)
    val counts = df.select(explode(types).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c")).persist()
    counts.count()
    val spectrum = Caching.scoped(counts.groupBy(col("__c").as("r"))
      .agg(count(lit(1)).as("n_r")))
    spectrum.count()
    val totals = counts.agg(sum(col("__c")).as("__n"),
      sum(when(col("__c") === 1, 1L).otherwise(0L)).as("__n1"))
    val next = spectrum.select((col("r") - 1).as("r"),
      col("n_r").as("__nr1"))
    val out = spectrum.filter(col("r") <= maxR)
      .join(next, Seq("r"), "left")
      .crossJoin(broadcast(totals))
      .select(col("r"), col("n_r"),
        round(when(col("__nr1").isNull, lit(0.0))
          .otherwise((col("r") + 1).cast("double") * col("__nr1") /
            col("n_r")), 6).as("r_star"),
        round(col("__n1").cast("double") / col("__n"), 6).as("p_unseen"))
    counts.unpersist()
    out
  }

  /** Chat-transcript turn extraction — the parse step every
    * instruction/chat fine-tuning pipeline runs before loss masking and
    * packing: a transcript serialized as `role: content` lines becomes
    * one row per TURN (doc, turn_idx, role, content). A line whose
    * prefix matches a known role (`system` / `user` / `assistant`,
    * case-insensitive, optional surrounding spaces) STARTS a turn;
    * non-header lines are continuations appended to the current turn
    * (multi-line assistant answers are the norm). Content before any
    * header lands in turn 0 with role `unknown` — surfaced, not
    * dropped, so malformed transcripts are visible to QA. Empty
    * continuation lines are preserved inside the turn (joined back
    * with \n); the header prefix and the whitespace right after its
    * colon are stripped from a turn's first line — bytes elsewhere
    * survive untouched.
    *
    * Scale shape: one split + posexplode to line rows, ONE doc-keyed
    * window (running count of header lines = segment id — transcripts
    * are KB-sized, a doc partition is trivially bounded), one
    * (doc, segment) aggregate folding continuations in line order.
    * Two exchanges total, both on the doc id; content never rides a
    * wider key. Engine-portable: the DuckDB oracle replays the same
    * split/window/regroup. */
  def chatTurns(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val headerRe = "^\\s*(?i)(system|user|assistant)\\s*:"
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__hdr",
        regexp_extract(col("__line"), headerRe, 1) =!= "")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val seg = lines.withColumn("turn_idx",
      sum(when(col("__hdr"), 1L).otherwise(0L)).over(w))
    seg.groupBy(col(idCol), col("turn_idx"))
      .agg(
        // the segment's first line carries the role (or none: preamble)
        min(when(col("__hdr"),
          struct(col("__pos").as("p"), lower(trim(
            regexp_extract(col("__line"), headerRe, 1))).as("r"))))
          .as("__r"),
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"),
            // strip the header prefix from the turn's first line only
            when(col("__hdr"),
              ltrim(regexp_replace(col("__line"), headerRe, "")))
              .otherwise(col("__line")).as("__c")))),
          s => s.getField("__c")), "\n").as("content"))
      .select(col(idCol), col("turn_idx"),
        coalesce(col("__r.r"), lit("unknown")).as("role"),
        col("content"))
  }

  /** Chat-transcript WELL-FORMEDNESS validation over [[chatTurns]]
    * output — the curation gate an SFT dataset runs before masking and
    * packing: per document, does the conversation (ignoring an optional
    * leading `system` turn and surfacing any `unknown` preamble as a
    * violation) start with `user`, strictly alternate user/assistant,
    * and contain no empty `assistant` turn (an empty TRAINING target
    * teaches the model to say nothing)? Emits one row per doc with each
    * check and the combined `valid` — malformed docs are FINDINGS for a
    * report, not silently dropped rows.
    *
    * Scale shape: ONE doc-keyed aggregate folding the (tiny, per-doc)
    * turn list in turn order; the alternation test is a per-row array
    * expression over that folded list. Engine-portable (the oracle
    * replays the fold + checks in SQL). */
  def chatValidate(turns: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val folded = turns.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("role") === "unknown", 1L).otherwise(0L))
          .as("n_unknown"),
        sum(when(col("role") === "assistant" &&
          length(trim(col("content"))) === 0, 1L).otherwise(0L))
          .as("n_empty_assistant"),
        // roles in turn order, minus a single LEADING system turn
        transform(array_sort(collect_list(struct(col("turn_idx"),
            col("role").as("r")))), s => s.getField("r")).as("__roles"))
      .withColumn("__conv",
        when(element_at(col("__roles"), 1) === "system",
          slice(col("__roles"), lit(2), size(col("__roles"))))
          .otherwise(col("__roles")))
    folded
      .withColumn("starts_with_user",
        size(col("__conv")) > 0 && element_at(col("__conv"), 1) === "user")
      .withColumn("alternates",
        // every turn differs from its successor AND only user/assistant
        // appear in the conversation body
        forall(col("__conv"), r => r.isin("user", "assistant")) &&
          size(filter(zip_with(col("__conv"),
            slice(col("__conv"), lit(2),
              greatest(size(col("__conv")) - 1, lit(0))),
            (a, b) => a === b), x => x)) === 0)
      .withColumn("valid",
        col("n_unknown") === 0 && col("n_empty_assistant") === 0 &&
          col("starts_with_user") && col("alternates"))
      .select(col(idCol), col("n_turns"), col("n_unknown"),
        col("n_empty_assistant"), col("starts_with_user"),
        col("alternates"), col("valid"))
  }

  /** Role-based loss masking over [[chatTurns]] output — the SFT rule
    * "train only on assistant tokens": adds `train_mask` (assistant
    * turns) and the per-turn token count the packer bills against the
    * sequence budget. Map-only on the turn rows. */
  def chatLossMask(turns: DataFrame,
      trainRoles: Seq[String] = Seq("assistant")): DataFrame =
    turns.withColumn("n_tokens", tokenCount(col("content")).cast("long"))
      .withColumn("train_mask", col("role").isin(trainRoles: _*))

  /** Shared hashed-n-gram featurization (lowercased unigrams + `_`-joined
    * bigrams, md5 % buckets) — the [[hashedLinearScore]] /
    * [[trainHashedLogReg]] contract, factored so DSIR hashes features
    * IDENTICALLY to the quality classifier (one oracle formula:
    * `CAST('0x'||substring(md5(f),1,8) AS BIGINT) % buckets`). */
  private def hashedNgramBuckets(textCol: String, buckets: Int,
      useBigrams: Boolean): Column =
    graft.functions.Md5ShingleFunctions.md5_ngram_buckets(
      tokens(lower(col(textCol))), buckets, useBigrams)

  /** The builtin-HOF spelling of [[hashedNgramBuckets]] — the formula
    * the DuckDB oracles replay, kept as the cross-check reference for
    * the native [[graft.functions.Md5NgramBuckets]] loop (pinned
    * bit-identical by spec). NOT the production path: interpreted
    * md5-hex + conv(16,10) per feature measured 50-90x slower at the
    * 10M-doc corpus smoke (BASELINE.md r11). */
  private[graft] def hashedNgramBucketsHof(textCol: String, buckets: Int,
      useBigrams: Boolean): Column = {
    val toks = tokens(lower(col(textCol)))
    val nBg = greatest(size(toks) - 1, lit(0))
    val featStrs =
      if (useBigrams)
        concat(toks, zip_with(
          slice(toks, lit(1), nBg), slice(toks, lit(2), nBg),
          (x, y) => concat(x, lit("_"), y)))
      else toks
    transform(featStrs, f =>
      pmod(conv(substring(md5(f.cast("binary")), 1, 8), 16, 10)
        .cast("long"), lit(buckets.toLong)).cast("int"))
  }

  /** Smoothed hashed-n-gram log-probabilities of a corpus: the
    * distribution side of [[dsirImportance]], exposed for reuse/audit.
    * ONE explode + bucket-keyed aggregate over the corpus collapses to
    * `buckets` driver doubles — bounded model state, the IVF-centroid
    * convention. logp[b] = ln((count_b + alpha) / (total + alpha*B)),
    * rounded 6dp so the downstream sums are over engine-portable values
    * (the trainHashedLogReg rounding discipline). */
  def dsirLogProbs(df: DataFrame, textCol: String, buckets: Int,
      alpha: Double = 0.01, useBigrams: Boolean = true): Array[Double] = {
    require(buckets > 0 && alpha > 0)
    val counts = df
      .select(explode(hashedNgramBuckets(textCol, buckets, useBigrams)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    Array.tabulate(buckets)(b => round6(math.log(
      (counts.getOrElse(b, 0L) + alpha) / (total + alpha * buckets))))
  }

  /** DSIR importance weighting (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023): score every raw
    * document by how much more likely its hashed-n-gram features are
    * under the TARGET distribution than under the RAW distribution —
    * log w(doc) = sum over features of (log p_target(b) - log p_raw(b))
    * — then keep the top of the ranking (selection is the caller's
    * orderBy/limit or [[graft.ops.Sampling]] budget ops; this operator
    * produces the ranking signal).
    *
    * Scale shape: both distributions reduce to `buckets` driver doubles
    * ([[dsirLogProbs]] — two corpus-sized aggregates, run once), and
    * scoring is MAP-ONLY: the 6dp-rounded log-ratio table rides the plan
    * as one array literal and each row folds its own feature buckets
    * through it — no join, no shuffle, nothing but the raw corpus scan.
    * At 100 TB that is the only shape that survives: the alternative
    * (explode grams + join a ratio table + re-aggregate per doc) shuffles
    * a grams-sized frame for no reason.
    *
    * Output: every `raw` row plus `n_features` and `log_weight` (6dp).
    * Empty docs score 0. */
  def dsirImportance(raw: DataFrame, target: DataFrame, textCol: String,
      buckets: Int = 1024, alpha: Double = 0.01,
      useBigrams: Boolean = true): DataFrame = {
    val logPT = dsirLogProbs(target, textCol, buckets, alpha, useBigrams)
    val logPR = dsirLogProbs(raw, textCol, buckets, alpha, useBigrams)
    val ratio = Array.tabulate(buckets)(b => round6(logPT(b) - logPR(b)))
    val ratioLit = array(ratio.map(lit(_)): _*)
    val bkts = hashedNgramBuckets(textCol, buckets, useBigrams)
    raw.withColumn("n_features", size(bkts))
      .withColumn("log_weight", round(aggregate(bkts, lit(0.0),
        (acc, b) => acc + element_at(ratioLit, b + 1)), 6))
  }
}
