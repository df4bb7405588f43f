package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Bm25Store, Cdc, CdcStore, CrossModal, Dedup, ExactSubstrStore, IncrementalDedup, IVF, Multimodal, Similarity, TextAnalysis}

/** Oracle-checked / rows-checked query surface for the training-data-pipeline
  * extension operators (dedup, similarity search, text analysis) over the
  * `documents` and `embeddings` tables.
  *
  * Queries whose implementation hashes DATA with xxhash64 (MinHash, SimHash,
  * fingerprints) have no DuckDB equivalent and are intentionally absent
  * from `oracle` — the driver records a rows-only check for them. The
  * SRP-LSH queries (x10/x19) are the exception since r11: their hyperplane
  * signs are data-independent XXH64 chains over (plane, dim) indices, so
  * the oracle embeds the DERIVED sign matrix as literals and replays the
  * bucketing exactly (see `srpPlaneLit`). The near-dup queries synthesize
  * their duplicates deterministically (a mutated copy of part of the
  * corpus) so the detectors provably find planted pairs at every scale
  * factor.
  */
object ExtensionQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** x132's planted unigram-LM vocabulary: all 26 single letters plus
    * multi-character pieces targeting the corpus words. Scores are
    * DYADIC by construction — `-(9 - len) - k/1024` with integer `len`
    * and list-index `k` — so every DP sum is exact in binary64 on both
    * engines and score ties are true ties, never 1-ulp engine
    * divergences (the x119 dyadic-lambda convention). Longer pieces
    * score better, but not so much that the greedy-longest split always
    * wins: `window` must segment `wi+ndow` (2+4 beats greedy `win+dow`'s
    * 3+3), which is exactly the case where Viterbi differs from BPE. */
  private val uniVocabPieces: Seq[String] = {
    val singles = ('a' to 'z').map(_.toString)
    val multi = Seq(
      "ba", "tch", "atch", "bat", "co", "lum", "umn", "col",
      "cus", "tom", "er", "mer", "da", "ta", "at", "fa", "st", "ast",
      "fil", "ter", "lter", "fi", "gro", "up", "oup", "ha", "sh", "ash",
      "jo", "in", "oin", "ke", "ey", "li", "ne", "ine", "ge", "erge",
      "or", "der", "rder", "pa", "rt", "art", "que", "ry", "uery",
      "ro", "ow", "sc", "an", "can", "sl", "low", "sm", "all", "mall",
      "so", "sp", "ark", "park", "re", "eam", "ream", "tab", "le",
      "ble", "ab", "th", "he", "va", "lue", "alue", "ve", "ct", "ctor",
      "tor", "wi", "nd", "dow", "ndow", "win", "gg", "ag", "agg", "du",
      "bi", "ig", "val", "um", "us", "to", "om", "qu", "ue")
    (singles ++ multi).distinct
  }

  private[queries] val uniVocab: Seq[(String, Double)] =
    uniVocabPieces.zipWithIndex.map { case (p, k) =>
      p -> (-(9.0 - math.min(p.length, 8)) - k / 1024.0)
    }

  /** x139's planted WordPiece vocabulary: the x132 pieces in both bare
    * (word-initial) and `##`-continuation form — EXCEPT `##z`, so any
    * word with a `z` past position 0 hits the no-match path and becomes
    * `[UNK]` (the planted exercise of WordPiece's whole-word-UNK rule;
    * digits/punctuation inside words exercise it at position 0). */
  private[queries] val wpVocab: Seq[String] =
    (uniVocabPieces ++
      uniVocabPieces.filterNot(_.contains("z")).map("##" + _)).distinct

  /** Builder-authored x139 oracle: greedy longest-match-first unrolled
    * into per-step CTE pairs (candidate pick `c_k` by length DESC, state
    * advance `s_k`; finished and UNK states carry through), then per-word
    * results roll up per document — generated from the SAME `wpVocab`
    * the Spark side plants so vocab and SQL cannot drift. Each step
    * consumes >= 1 character or finalizes [UNK], so maxW steps finish
    * every word. */
  private def wordpieceOracleSql: String = {
    val maxW = 16
    val vals = wpVocab.map { p =>
      val cont = p.startsWith("##")
      val form = if (cont) p.substring(2) else p
      s"('$form', '$p', ${form.length}, $cont)"
    }.mkString(", ")
    val steps = (1 to maxW).map { k =>
      s"""c$k AS (
         |  SELECT st.word, st.pos, v.l, v.disp
         |  FROM s${k - 1} st JOIN v
         |    ON v.cont = (st.pos > 0)
         |   AND v.l <= st.wl - st.pos
         |   AND substr(st.word, st.pos + 1, v.l) = v.form
         |  WHERE NOT st.unk AND st.pos < st.wl
         |  QUALIFY row_number() OVER (PARTITION BY st.word
         |    ORDER BY v.l DESC) = 1),
         |s$k AS MATERIALIZED (
         |  SELECT st.word, st.wl,
         |    CASE WHEN c.word IS NULL THEN st.wl ELSE st.pos + c.l END AS pos,
         |    CASE WHEN c.word IS NULL THEN 1 ELSE st.np + 1 END AS np,
         |    CASE WHEN c.word IS NULL THEN '[UNK]'
         |         WHEN st.segm = '' THEN c.disp
         |         ELSE st.segm || '+' || c.disp END AS segm,
         |    (c.word IS NULL) AS unk
         |  FROM s${k - 1} st LEFT JOIN c$k c USING (word)
         |  WHERE NOT st.unk AND st.pos < st.wl
         |  UNION ALL
         |  SELECT word, wl, pos, np, segm, unk FROM s${k - 1}
         |  WHERE unk OR pos >= wl)""".stripMargin
    }.mkString(",\n")
    s"""WITH v(form, disp, l, cont) AS (VALUES $vals),
       |doc AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |    x -> len(x) > 0 AND len(x) <= $maxW) AS toks
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, u.ord AS ord, u.word AS word FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
       |      i -> {'ord': i, 'word': toks[i]})) AS u
       |    FROM doc) q),
       |s0 AS MATERIALIZED (
       |  SELECT DISTINCT word, len(word) AS wl, 0 AS pos, 0 AS np,
       |    '' AS segm, FALSE AS unk
       |  FROM tok),
       |$steps,
       |agg AS (
       |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN w.unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
       |    CAST(sum(w.np) AS BIGINT) AS n_pieces,
       |    string_agg(w.segm, ' ' ORDER BY t.ord) AS segm
       |  FROM tok t JOIN s$maxW w USING (word) GROUP BY t.doc_id)
       |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
       |  coalesce(a.n_unk, 0) AS n_unk, coalesce(a.n_pieces, 0) AS n_pieces,
       |  coalesce(a.segm, '') AS segm
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Builder-authored x132 oracle: the Viterbi DP unrolled into chained
    * CTEs `b1..b16` (position i picks its best predecessor among the
    * last `maxPieceLen` positions via the same score DESC / n_pieces
    * ASC / j ASC order the expression pins), then per-word results roll
    * up per document. Generated from the SAME `uniVocab` value the
    * Spark side plants, so vocab and SQL cannot drift apart. */
  private def unigramOracleSql: String = {
    val maxW = 16
    val maxP = uniVocabPieces.map(_.length).max
    val vals = uniVocab.map { case (p, sc) =>
      s"('$p', ${BigDecimal(sc).bigDecimal.toPlainString})" }.mkString(", ")
    val dp = (1 to maxW).map { i =>
      val legs = (math.max(0, i - maxP) until i).map { j =>
        s"SELECT b.word, b.wl, b.score + v.score AS score, b.np + 1 AS np, " +
          s"CASE WHEN b.segm = '' THEN v.piece ELSE b.segm || '+' || v.piece END AS segm, " +
          s"$j AS j FROM b$j b JOIN v ON b.wl >= $i " +
          s"AND v.piece = substr(b.word, ${j + 1}, ${i - j})"
      }.mkString(" UNION ALL ")
      // MATERIALIZED: each b_i is referenced by up to maxP later stages;
      // without it DuckDB inlines the chain into an exponentially-
      // expanded tree (observed: "Too many open files" from the same
      // parquet scan multiplied hundreds of times)
      s"b$i AS MATERIALIZED (SELECT word, wl, score, np, segm FROM ($legs) " +
        s"QUALIFY row_number() OVER (PARTITION BY word " +
        s"ORDER BY score DESC, np ASC, j ASC) = 1)"
    }.mkString(",\n")
    val wseg = (1 to maxW).map(i => s"SELECT * FROM b$i WHERE wl = $i")
      .mkString(" UNION ALL ")
    s"""WITH v(piece, score) AS (VALUES $vals),
       |doc AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |    x -> len(x) > 0 AND len(x) <= $maxW) AS toks
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, u.ord AS ord, u.word AS word FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
       |      i -> {'ord': i, 'word': toks[i]})) AS u
       |    FROM doc) q),
       |words AS MATERIALIZED (SELECT DISTINCT word, len(word) AS wl FROM tok),
       |b0 AS MATERIALIZED (
       |  SELECT word, wl, 0.0 AS score, 0 AS np, '' AS segm FROM words),
       |$dp,
       |wseg AS ($wseg),
       |agg AS (
       |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(w.np) AS BIGINT) AS n_pieces,
       |    ROUND(sum(w.score), 6) AS logp,
       |    string_agg(w.segm, ' ' ORDER BY t.ord) AS segm
       |  FROM tok t JOIN wseg w USING (word) GROUP BY t.doc_id)
       |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
       |  CAST(0 AS BIGINT) AS n_oov, coalesce(a.n_pieces, 0) AS n_pieces,
       |  coalesce(a.logp, 0.0) AS logp, coalesce(a.segm, '') AS segm
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Builder-authored x15/x27 oracle prefix: IVF.trainPortable's three
    * Lloyd iterations unrolled as chained MATERIALIZED CTEs. Iteration i
    * = assignment `a_i` (best cosine, ties -> HIGHEST cid — the
    * NearestCentroidId contract) + decimal-exact per-coordinate means
    * `m_i` (SUM(DECIMAL(38,18)) cast double, /count, round6 — exactly
    * the portable trainer's recurrence; exact sums commute, so engine
    * aggregation order cannot matter) + recombination `c_i` (empty
    * clusters keep their previous centroid). `af` is the final corpus
    * assignment over `c_iters`. */
  private def ivfPortableTrainSql(nc: Int, iters: Int, dim: Int): String = {
    val cte = new StringBuilder
    cte ++= "WITH emb AS (SELECT vec_id, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),\n"
    cte ++= s"c0 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv " +
      s"FROM emb WHERE vec_id < $nc),\n"
    for (i <- 1 to iters) {
      cte ++= s"a$i AS MATERIALIZED (" +
        s"SELECT e.vec_id, e.v, c.cid FROM emb e CROSS JOIN c${i - 1} c " +
        s"QUALIFY row_number() OVER (PARTITION BY e.vec_id " +
        s"ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid DESC) = 1),\n"
      cte ++= s"m$i AS MATERIALIZED (" +
        s"SELECT cid, d.pos, " +
        s"ROUND(CAST(SUM(CAST(v[d.pos + 1] AS DECIMAL(38,18))) AS DOUBLE) " +
        s"/ COUNT(*), 6) AS m " +
        s"FROM a$i CROSS JOIN (SELECT unnest(range(0, $dim)) AS pos) d " +
        s"GROUP BY cid, d.pos),\n"
      cte ++= s"c$i AS MATERIALIZED (" +
        s"SELECT p.cid, coalesce(n.cv, p.cv) AS cv FROM c${i - 1} p " +
        s"LEFT JOIN (SELECT cid, list(m ORDER BY pos) AS cv FROM m$i " +
        s"GROUP BY cid) n USING (cid)),\n"
    }
    cte ++= s"af AS MATERIALIZED (" +
      s"SELECT e.vec_id, e.v, c.cid FROM emb e CROSS JOIN c$iters c " +
      s"QUALIFY row_number() OVER (PARTITION BY e.vec_id " +
      s"ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid DESC) = 1)"
    cte.toString
  }

  /** The x35/x40 paragraph-dedup fixture: doc i = own (newline-stripped)
    * text + successor's text joined by \n\n, wrapping the last doc around
    * to the first — every paragraph appears in exactly two documents.
    * Successor lookup is a broadcast-bounds self-join (each doc's text is
    * keyed to its predecessor; the min id's text to the max id), NOT a
    * global `lead` window: the earlier Window.orderBy(doc_id) synthesis
    * spammed `WindowExec: No Partition Defined` warnings into every
    * sweep tail, drowning the signal that warning exists to give
    * (VERDICT r5 item 10). doc_ids are driver-contract contiguous
    * 0..N-1, so predecessor arithmetic is exact; the SQL oracle replays
    * the same corpus with lead() — identical by contiguity. Seed text is
    * newline-stripped on BOTH sides so a \n\n inside future seed text
    * breaks loudly rather than silently shifting the two-paragraph
    * model. */
  private def wrappedTwoParagraphCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      regexp_replace(col("text"), "\\n+", " ").as("__own"))
    val bounds = docs.agg(min(col("doc_id")).as("__min"),
      max(col("doc_id")).as("__max"))
    val succ = docs.crossJoin(broadcast(bounds))
      .select(when(col("doc_id") === col("__min"), col("__max"))
        .otherwise(col("doc_id") - 1).as("doc_id"), col("__own").as("__next"))
    docs.join(succ, Seq("doc_id"))
      .select(col("doc_id"), concat_ws("\n\n", col("__own"), col("__next")).as("text"))
  }

  /** Shared x106/x108 chat-transcript fixture: role-headed serialization
    * of each document with a multi-line assistant answer, a
    * case/space-mangled header, and (every 5th doc) a role-less
    * preamble. */
  private def chatFixture(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    t(s, dir, "documents").select(col("doc_id"),
      concat(
        when(col("doc_id") % 5 === 0, lit("stray preamble\n"))
          .otherwise(lit("")),
        lit("system: be helpful\n"),
        lit("user: "), concat_ws(" ", slice(toks, 1, 8)), lit("\n"),
        lit("assistant: "), concat_ws(" ", slice(toks, 9, 8)), lit("\n"),
        concat_ws(" ", slice(toks, 17, 8)), lit("\n"),
        lit("USER : "), concat_ws(" ", slice(toks, 25, 6))).as("text"))
  }

  /** documents plus a mutated copy of docs 0..49 (id+10000, last ~20% of
    * words dropped) — the planted near-duplicate corpus. */
  private def nearDupCorpus(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val mutated = docs.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 10000)
      .withColumn("text",
        concat_ws(" ", slice(toks, lit(1), (size(toks) * 0.8).cast("int"))))
    docs.unionByName(mutated)
  }

  /** Planted 3-chain corpus for the cluster queries (x26/x36): doc i <->
    * i+10000 <-> i+20000 via 80%/60% token prefixes, NO direct i <-> i+20000
    * candidate — connectivity between i and i+20000 exists only
    * transitively, so downstream cluster queries genuinely exercise
    * multi-hop resolution. Returns (corpus, candidate id pairs). */
  private def chainCorpusAndCands(docs: DataFrame): (DataFrame, DataFrame) = {
    val toks = TextAnalysis.tokens(col("text"))
    def prefixed(off: Int, frac: Double): DataFrame =
      docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + off)
        .withColumn("text",
          concat_ws(" ", slice(toks, lit(1), (size(toks) * frac).cast("int"))))
    val corpus = docs.unionByName(prefixed(10000, 0.8))
      .unionByName(prefixed(20000, 0.6))
    val base = docs.filter(col("doc_id") < 50).select(col("doc_id").as("i"))
    val cand = base.select(col("i").as("id_a"), (col("i") + 10000).as("id_b"))
      .unionByName(base.select((col("i") + 10000).as("id_a"),
        (col("i") + 20000).as("id_b")))
    (corpus, cand)
  }

  /** embeddings (cast to double) plus deterministically perturbed copies of
    * vecs 0..24 (vec_id+10000, element i scaled by 1 + 0.05*((i%3)-1)) —
    * the planted near-duplicate corpus for the cosine-dedup queries.
    * Mirrored exactly in the x18 oracle SQL. */
  private def embDupCorpus(emb: DataFrame): DataFrame = {
    val asDouble = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val perturbed = asDouble.filter(col("vec_id") < 25)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("v"), (x, i) =>
          x * (lit(1.0) + lit(0.05) * ((i % 3) - lit(1)))).as("v"))
    asDouble.unionByName(perturbed)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: survivor (min id) + multiplicity per distinct text.
    // Runs the DIGEST-keyed production path (shuffle key = xxhash64(text),
    // 8 bytes, instead of the full document text): the oracle compares
    // per-survivor counts, which the digest reproduces exactly barring a
    // ~2^-64 collision — digest-vs-full-text agreement is pinned by spec
    "x01_dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") < 50).withColumn("doc_id", col("doc_id") + 10000))
      Dedup.exactByDigest(corpus, "text", "doc_id")
    }),

    // Token counting (whitespace + BPE-ish regex estimate)
    "x02_token_stats" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        length(col("text")).cast("long").as("char_len"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("token_cnt"))),

    // Quality scoring (length/punct/stopword/alpha ratios + composite)
    "x03_text_quality" -> ((s, dir) =>
      TextAnalysis.qualityMetrics(t(s, dir, "documents"))
        .select(col("doc_id"), col("char_len").cast("long").as("char_len"),
          col("token_cnt").cast("long").as("token_cnt"),
          round(col("avg_token_len"), 6).as("avg_token_len"),
          col("stopword_cnt").cast("long").as("stopword_cnt"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("alpha_ratio"), 6).as("alpha_ratio"),
          col("quality_score"))),

    // Language ID (stopword-profile argmax heuristic)
    "x04_langid" -> ((s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("predicted_lang"),
          (col("predicted_lang") === col("lang")).as("lang_match"))),

    // Document fingerprint (min/max/xor over 8-token shingle hashes).
    // Runs the PORTABLE md5 family (oracle-checked since r11); the
    // xxhash64 rolling-combine production path keeps its bit-identity
    // spec against the explode+aggregate formulation.
    "x05_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprintPortable(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("fp_min"), col("fp_max"), col("fp_xor"))),

    // MinHash+LSH near-dup pairs over planted corpus. Runs the PORTABLE
    // md5 hash family (oracle-checked since r11: every minhash value and
    // band bucket is DuckDB-replayable); the xxhash64 production family
    // is pinned same-planted-pair-recovery by spec.
    "x06_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashLshPairsPortable(nearDupCorpus(t(s, dir, "documents")),
        "doc_id", "text", shingleW = 3, k = 32, bands = 8, threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // SimHash near-dup pairs over planted corpus. Runs the PORTABLE
    // 60-bit md5 family (oracle-checked since r11); the 64-bit xxhash64
    // production family keeps its own bit-identity + recovery specs.
    "x07_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairsPortable(nearDupCorpus(t(s, dir, "documents")),
        "doc_id", "text", maxHamming = 6)
        .orderBy(col("id_a"), col("id_b"))),

    // Exact n-gram Jaccard on explicit candidate pairs (planted ids)
    "x08_ngram_jaccard" -> ((s, dir) => {
      val corpus = nearDupCorpus(t(s, dir, "documents"))
      val pairs = corpus.filter(col("doc_id") >= 10000)
        .select((col("doc_id") - 10000).as("id_a"), col("doc_id").as("id_b"))
      Dedup.ngramJaccard(pairs, corpus, "doc_id", "text", n = 3)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }),

    // Brute-force cosine top-k (exact ANN baseline)
    "x09_knn_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", 20)
    }),

    // SRP-LSH bucketed ANN (scale path; oracle-checked since r11 — the
    // data-independent plane signs are embedded in the oracle as literals)
    "x10_knn_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      Similarity.lshKnn(emb, q, "vec_id", "embedding", 20, planes = 6)
    }),

    // BPE-ish subword-count estimate (match-based RE2 regex since round 4,
    // so the oracle checks it — previously lookaround-split and rows-only)
    "x14_subword_count" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("token_cnt"),
        TextAnalysis.subwordCount(col("text")).cast("long").as("subword_cnt"))),

    // Duplicate-cluster resolution over LSH pairs (connected components).
    // Pairs come from the portable md5 family, so the oracle replays the
    // whole chain: pair generation (the x06 SQL) + a recursive-CTE
    // transitive closure with min-label components (oracle-checked
    // since r11).
    "x12_dedup_clusters" -> ((s, dir) => {
      val corpus = nearDupCorpus(t(s, dir, "documents"))
      val pairs = Dedup.minhashLshPairsPortable(corpus, "doc_id", "text",
        shingleW = 3, k = 32, bands = 8, threshold = 0.4)
      Dedup.resolveClusters(pairs).orderBy(col("id"))
    }),

    // Per-vector stats via the native vector expressions (oracle-checked)
    "x13_embedding_stats" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      emb.select(col("vec_id"), size(col("embedding")).as("dim"),
        round(sqrt(Similarity.dot(col("embedding"), col("embedding"))), 6).as("l2_norm"),
        round(Similarity.dot(col("embedding"),
          array_repeat(lit(1.0), 64)) / size(col("embedding")), 6).as("vec_mean"),
        col("label"))
    }),

    // Approximate-distinct sketches (HLL++). The raw sketch values are
    // engine-specific, so the QUERY OUTPUT is exact counts + error-bound
    // BOOLEANS (|approx-exact|/exact <= 5%), which DuckDB replays as
    // exact counts + literal TRUE — turning the former rows-only check
    // into a full oracle row while still exercising the sketches
    "x17_approx_distinct" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // TWO aggregates joined on the 3-value flag, a shape chosen by
      // MEASUREMENT (a one-off timing probe of the candidate shapes at
      // sf0.1): the sketches must stay in
      // their own coarse agg (3 groups — map-side HLL merge, the 100 TB
      // production path), because any plan that mixes a distinct agg
      // with them re-keys the FIRST aggregate by (flag, distinct-col,
      // gid) and materializes an rsd-0.02 sketch buffer per ~167k fine
      // groups — measured 9-19s. The two exact countDistincts combine
      // into ONE leg and eat the 2x Expand (0.8s) rather than scanning
      // twice (r5's three-scan shape: 5.1s in-sweep, the #3 cost);
      // the Expand carries no sketches, so it stays cheap.
      // rsd = 0.02 on BOTH sketches: the default 0.05 is one STANDARD
      // DEVIATION, so a 5%-bound boolean over it flips red ~1/3 of the
      // time (it did, on sf0.01's N flag); 0.02 makes 5% a 2.5-sigma bound
      val proj = li.select(col("l_returnflag"), col("l_orderkey"),
        col("l_partkey"))
      val approx = proj.groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
      val exact = proj.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
          countDistinct(col("l_partkey")).as("exact_parts"))
      approx.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
          (abs(col("approx_orders") - col("exact_orders"))
            .cast("double") / col("exact_orders") <= 0.05)
            .as("orders_within_5pct"),
          (abs(col("approx_parts") - col("exact_parts"))
            .cast("double") / col("exact_parts") <= 0.05)
            .as("parts_within_5pct"))
    }),

    // Deterministic stratified sampling (mixture weighting; mod path is
    // oracle-checked, hash path covered by spec)
    "x16_stratified_sample" -> ((s, dir) => {
      val rate = when(col("lang") === "en", 0.5)
        .when(col("lang") === "de", 0.25)
        .otherwise(0.1)
      graft.ops.Sampling.stratifiedSampleByMod(
        t(s, dir, "documents"), "doc_id", rate, den = 100)
        .select(col("doc_id"), col("lang"))
    }),

    // IVF ANN: TRAINED k-means lists + nprobe search — oracle-checked
    // since r11 via the PORTABLE trainer (decimal-exact means, round6
    // per iteration): the centroids become a pure function of (data, nc,
    // iters), so the oracle replays all three Lloyd iterations as
    // unrolled CTEs (assign ties -> highest cid, probe ties -> lowest —
    // the x120 conventions) and then the probe + re-rank. This was the
    // "irreducible rows-only core" through r10; the float-avg production
    // trainer stays available as IVF.train, pinned ≈-equal by spec.
    "x15_knn_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = IVF.trainPortable(emb, "vec_id", "embedding",
        nc = 16, iters = 3)
      val assigned = IVF.assign(emb, "embedding", model)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      IVF.search(assigned, q, "vec_id", "embedding", model, k = 20, nprobe = 4)
    }),

    // Embedding-cosine near-dup pairs, exact baseline (oracle-checked):
    // corpus = embeddings (as double) + deterministically perturbed copies
    // of vecs 0..24 (per-position factors 0.95/1.0/1.05) -> all-pairs
    // cosine at 0.9 finds exactly the planted near-dups (background pairs
    // max out near 0.51 on this table). BOUNDED to vec_id < 500 (which
    // contains all 25 planted dups): this is the declared O(n^2)
    // correctness baseline, and its cost grows QUADRATICALLY with SF — a
    // full-corpus run pins nothing more about the operator but was the #2
    // cost in the r4 sweep and would be ~100x the compares at sf1. x19 is
    // the full-corpus scale path.
    "x18_embedding_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      val corpus = embDupCorpus(emb)
      graft.ops.Dedup.cosinePairsExact(corpus, "vec_id", "v", 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Embedding-cosine near-dup pairs via banded SRP-LSH (the scale path;
    // oracle-checked since r11 via the derived-sign-matrix oracle; recall
    // additionally asserted in spec against the exact baseline)
    "x19_embedding_dedup_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = embDupCorpus(emb)
      graft.ops.Dedup.cosinePairsLsh(corpus, "vec_id", "v", 0.9,
        planes = 8, bands = 4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // PII scrub: plant deterministic emails/phones/IPs in part of the
    // corpus, count and redact them (oracle-checked; the documents table
    // itself is PII-free, so planted rows carry known counts)
    "x20_pii_scrub" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val withPii = docs.withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact jane.doe@example.com or 555-123-4567 at 10.0.0.1")))
          .otherwise(col("text")))
      TextAnalysis.scrubPii(TextAnalysis.piiStats(withPii))
        .select(col("doc_id"),
          col("n_emails").cast("long").as("n_emails"),
          col("n_phones").cast("long").as("n_phones"),
          col("n_ipv4s").cast("long").as("n_ipv4s"),
          length(col("scrubbed")).cast("long").as("scrubbed_len"))
    }),

    // Extended PII detect+scrub: planted SSNs / credit cards (two
    // Luhn-valid, one invalid) / international phones on top of the x20
    // surface; counts + Luhn-valid subset + redacted length, all
    // oracle-checked (the Luhn checksum is plain arithmetic DuckDB can
    // replicate over the extracted digit strings)
    "x25_pii_extended" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val withPii = docs.withColumn("text",
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" ssn 123-45-6789 card 4532-0151-1283-0366" +
            " backup 4111111111111111 invalid 1234-5678-9012-3456" +
            " intl +44 20 7946 0958")))
          .otherwise(col("text")))
      TextAnalysis.scrubPiiExtended(TextAnalysis.piiStatsExtended(withPii))
        .select(col("doc_id"),
          col("n_ssns").cast("long").as("n_ssns"),
          col("n_cards").cast("long").as("n_cards"),
          col("n_valid_cards").cast("long").as("n_valid_cards"),
          col("n_intl_phones").cast("long").as("n_intl_phones"),
          length(col("scrubbed")).cast("long").as("scrubbed_len"))
    }),

    // Corpus-prep capstone: quality filter -> language filter -> exact-dedup
    // survivors -> per-language doc/token totals. The composition a
    // training-data prep job runs end-to-end, oracle-checked by composing
    // the x03/x04 oracle SQL as CTEs
    "x21_corpus_prep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val quality = TextAnalysis.qualityMetrics(docs)
        .select(col("doc_id").as("q_id"), col("quality_score"),
          col("token_cnt"))
      val lang = TextAnalysis.languageId(docs)
        .select(col("doc_id").as("l_id"), col("predicted_lang"),
          col("lang").as("true_lang"))
      // digest-keyed survivors (the corpus-scale path — see x01)
      val survivors = Dedup.exactByDigest(docs, "text", "doc_id")
        .select(col("doc_id").as("s_id"))
      docs.join(quality, col("doc_id") === col("q_id"))
        .join(lang, col("doc_id") === col("l_id"))
        .join(survivors, col("doc_id") === col("s_id"), "left_semi")
        .filter(col("quality_score") >= 0.3 && col("predicted_lang") =!= "unknown")
        .groupBy(col("predicted_lang").as("pred_lang"), col("true_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("token_cnt")).cast("long").as("total_tokens"))
    }),

    // Benchmark-contamination screen: docs 0..19 play the eval set; every
    // doc reports the fraction of its 3-gram shingles found in it.
    // Runs the hashed (production) path: the oracle compares COUNTS, which
    // hashed shingles reproduce exactly barring a ~2^-64 collision -- so
    // the scale path itself is what gets oracle-checked
    "x22_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.contamination(docs, docs.filter(col("doc_id") < 20),
        "doc_id", "text", n = 3)
        .select(col("doc_id"), col("n_shingles").cast("long").as("n_shingles"),
          col("n_hits").cast("long").as("n_hits"), col("contamination"))
    }),

    // Paragraph-level decontamination (the REMOVAL pass x22's detection
    // feeds): a bench phrase is planted as an extra paragraph on every
    // 4th doc; the op must excise exactly that paragraph and reassemble
    // the rest. Paragraphs are built synthetically (normalized text +
    // planted phrase) so both engines construct identical lists — the
    // x35 fixture pattern. Runs the hashed (production) shingle path;
    // the oracle replays decisions with string n-grams (x22 argument).
    "x55_paragraph_decontam" -> ((s, dir) => {
      val phrase = "zqbench0 zqbench1 zqbench2 zqbench3 zqbench4"
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(regexp_replace(col("text"), "\\n+", " "),
          when(col("doc_id") % 4 === 0,
            lit(s"\n\n$phrase extra tail here")).otherwise(lit("")))
          .as("text"))
      import s.implicits._
      val bench = Seq(phrase, "unrelated bench entry nothing matches")
        .toDF("text")
      TextAnalysis.decontaminateParagraphs(docs, bench, "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_paras"), col("n_removed"),
          col("text").as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // Overlapping token-window chunking (RAG/context prep): 32-token
    // chunks, 8-token overlap; chunk ids are start/stride so both engines
    // derive them identically
    "x32_chunking" -> ((s, dir) =>
      TextAnalysis.chunkByTokens(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_idx"),
          col("n_chunk_tokens").cast("long").as("n_chunk_tokens"),
          col("chunk_text"))),

    // LLM data-prep capstone: the end-to-end corpus pipeline a pretraining
    // run executes — boilerplate gate -> quality gate -> digest dedup ->
    // PII scrub -> token-window chunking -> per-language shard stats.
    // Composes six round-4 operators in their production order; the oracle
    // rebuilds each stage as a CTE, so the full composition (not just the
    // pieces) is hash-checked. Stages run FUSED here (Catalyst collapses
    // the per-row legs; the quality subtree is recomputed by its two
    // consumers) — at 100 TB a production run materializes stage outputs
    // to parquet between gates instead, the orchestrator pattern q38
    // exercises; the oracle checks stage semantics either way
    "x34_llm_prep_e2e" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val gated = TextAnalysis.boilerplateFilters(docs)
        .filter(col("keep"))
        .select(col("doc_id"), col("lang"), col("text"))
      val quality = TextAnalysis.qualityMetrics(gated)
        .filter(col("quality_score") >= 0.3)
        .select(col("doc_id"), col("lang"), col("text"))
      val survivors = Dedup.exactByDigest(quality, "text", "doc_id")
        .select(col("doc_id").as("s_id"))
      val deduped = quality.join(survivors,
        col("doc_id") === col("s_id"), "left_semi")
      val scrubbed = TextAnalysis.scrubPii(deduped)
        .select(col("doc_id"), col("lang"), col("scrubbed").as("text"))
      TextAnalysis.chunkByTokens(scrubbed, "doc_id", "text",
          chunkTokens = 32, overlap = 8)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("n_chunk_tokens")).cast("long").as("total_chunk_tokens"))
    }),

    // Per-language corpus report: the dashboard a data-prep run ends with,
    // composing token stats, quality, boilerplate-keep and repetition into
    // one frame; oracle composes the x03/x28/x23 oracle SQL as CTEs
    "x33_corpus_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val quality = TextAnalysis.qualityMetrics(docs)
        .select(col("doc_id").as("q_id"), col("token_cnt"), col("quality_score"))
      val keep = TextAnalysis.boilerplateFilters(docs)
        .select(col("doc_id").as("b_id"), col("keep"))
      val rep = TextAnalysis.repetitionStats(docs)
        .select(col("doc_id").as("r_id"), col("repetition"))
      docs.join(quality, col("doc_id") === col("q_id"))
        .join(keep, col("doc_id") === col("b_id"))
        .join(rep, col("doc_id") === col("r_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("token_cnt")).cast("long").as("total_tokens"),
          round(avg(col("quality_score")), 6).as("mean_quality"),
          round(avg(when(col("keep"), 1.0).otherwise(0.0)), 6).as("keep_frac"),
          round(avg(col("repetition")), 6).as("mean_repetition"))
    }),

    // TF-IDF top-3 terms per document (corpus statistics through the
    // custom TopKPerGroup operator); integer (tf, df) pairs make ties
    // exact, token breaks them -> deterministic, window-rank oracle
    "x31_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("tfidf").desc, col("token"))),

    // Sequence packing (concat-and-chunk prep step): shard-local (per-lang)
    // greedy token-budget binning, fully deterministic; window-sum oracle
    "x30_sequence_packing" -> ((s, dir) => {
      val withTokens = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("token_cnt"))
      graft.ops.Packing.packByBudget(withTokens, "lang", "doc_id",
          "token_cnt", budget = 2048)
        .select(col("doc_id"), col("lang"),
          col("token_cnt").cast("long").as("token_cnt"),
          col("cum_tokens").cast("long").as("cum_tokens"), col("pack_id"))
    }),

    // Vocabulary top-10 per language (vocab-build corpus statistics) via
    // the custom TopKPerGroup operator; window-rank oracle
    "x29_vocab_topk" -> ((s, dir) =>
      TextAnalysis.vocabTopK(t(s, dir, "documents"), "lang", "text", 10)
        .orderBy(col("lang"), col("token_freq").desc, col("token"))),

    // C4-style boilerplate filters over a corpus with planted boilerplate
    // (lorem-ipsum tails on %13 docs, code+javascript headers on %17 docs)
    // — the keep flag and every heuristic column are oracle-checked
    "x28_boilerplate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val planted = docs.withColumn("text",
        when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" lorem ipsum dolor sit amet")))
          .otherwise(col("text")))
        .withColumn("text",
          when(col("doc_id") % 17 === 0,
            concat(lit("function() { please enable javascript "), col("text")))
            .otherwise(col("text")))
      TextAnalysis.boilerplateFilters(planted)
        .select(col("doc_id"), col("word_cnt").cast("long").as("word_cnt"),
          col("ends_terminal"), col("has_curly"), col("has_lorem"),
          col("has_js_boilerplate"), col("keep"))
    }),

    // Gopher-style repetition metrics (2-gram totals/distincts/fraction)
    "x23_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_ngrams").cast("long").as("n_ngrams"),
          col("n_distinct_ngrams").cast("long").as("n_distinct_ngrams"),
          col("repetition"))),

    // Batched exact kNN, ORACLE-CHECKED: a 5-query frame against the whole
    // corpus through the custom TopKPerGroup operator (bounded k-heaps per
    // query id) — the retrieval shape a training pipeline runs at volume.
    // Oracle = per-query window rank over the exact cosine cross product
    "x24_knn_batch" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.bruteForceKnnBatch(emb, q, "vec_id", "embedding", "query_id", 10)
        .orderBy(col("query_id"), col("cosine_sim").desc, col("vec_id"))
    }),

    // Batched IVF ANN over the PERSISTED partitioned-directory index —
    // the full index lifecycle the sweep should price (VERDICT r5 item
    // 9): train, assign, write the index partitioned by centroid_id,
    // then batch-search through [[IVF.searchBatchPartitioned]] so the
    // probe prune lands as PartitionFilters file skipping at the scan,
    // not a post-read filter. `partition_pruned` embeds the plan guard
    // into the benched output (the q42 zero_exchange pattern): true only
    // if the executed plan prunes partitions on centroid_id. Oracle-
    // checked since r11 (x15's portable-trainer route): the unrolled
    // Lloyd CTEs feed the per-query probe selection and the partitioned-
    // index re-rank, all value-replayed; equality with the in-memory
    // batch path and with N single searches stays pinned by spec.
    "x27_knn_ivf_batch" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = IVF.trainPortable(emb, "vec_id", "embedding",
        nc = 16, iters = 3)
      val assigned = IVF.assign(emb, "embedding", model)
      val idx = graft.queries.ParityQueries.tmpPath("graft_ivf_idx", dir)
      IVF.writeIndexPartitioned(assigned, idx)
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val res = IVF.searchBatchPartitioned(s, idx, q, "vec_id", "embedding",
        "query_id", model, k = 10, nprobe = 4)
      val prunedOk = "PartitionFilters: \\[[^\\]]*centroid_id".r
        .findFirstIn(res.queryExecution.executedPlan.toString).isDefined
      res.withColumn("partition_pruned", lit(prunedOk))
        .orderBy(col("query_id"), col("cosine_sim").desc, col("vec_id"))
    }),

    // Cluster resolution, ORACLE-CHECKED (the hash-free half of the dedup
    // pipeline): a planted 3-chain corpus (doc i <-> i+10000 <-> i+20000,
    // 80%/60% token prefixes, NO direct i <-> i+20000 edge) runs through
    // exact n-gram Jaccard (DuckDB-expressible, unlike the xxhash LSH
    // stage) and then resolveClusters — connectivity i ~ i+20000 exists
    // only transitively, so the oracle (recursive-CTE reachability +
    // min-label) genuinely checks multi-hop component resolution
    "x26_cluster_resolution" -> ((s, dir) => {
      val (corpus, cand) = chainCorpusAndCands(t(s, dir, "documents"))
      val pairs = Dedup.ngramJaccard(cand, corpus, "doc_id", "text", n = 3)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
      Dedup.resolveClusters(pairs).orderBy(col("id"))
    }),

    // Dedup cluster MANIFEST (the provenance report a dedup job ships with
    // its survivor list): per cluster — member count, id span, total
    // bytes, and bytes saved by keeping only the survivor. Composes the
    // x26 oracle-checked resolution with one corpus join (labels are
    // pair-participant-sized, broadcastable; corpus scan projects only
    // id + length) and one grouped aggregate on cluster_id. Same
    // recursive-CTE oracle extended with the length join.
    "x56_cluster_manifest" -> ((s, dir) => {
      val (corpus, cand) = chainCorpusAndCands(t(s, dir, "documents"))
      val pairs = Dedup.ngramJaccard(cand, corpus, "doc_id", "text", n = 3)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
      Dedup.resolveClusters(pairs)
        .join(corpus.select(col("doc_id").as("id"),
          length(col("text")).cast("long").as("__chars")), Seq("id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).cast("long").as("n_members"),
          max(col("id")).as("max_id"),
          sum(col("__chars")).as("chars_total"),
          (sum(col("__chars")) -
            sum(when(col("id") === col("cluster_id"), col("__chars"))
              .otherwise(0L))).as("chars_saved"))
        .orderBy(col("cluster_id"))
    }),

    // The APPLY half of near-dup dedup, ORACLE-CHECKED end to end: the x26
    // chain corpus runs exact-Jaccard pairs -> resolveClusters, then the
    // corpus is filtered to survivors — ids untouched by any pair plus each
    // cluster's min-id representative (`clustered` marks the latter). The
    // planted +10000/+20000 chain members must ALL be dropped; every
    // original document survives
    "x36_dedup_apply" -> ((s, dir) => {
      val (corpus, cand) = chainCorpusAndCands(t(s, dir, "documents"))
      val pairs = Dedup.ngramJaccard(cand, corpus, "doc_id", "text", n = 3)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
      val labels = Dedup.resolveClusters(pairs)
      // survivor filter: the labels frame holds only ids seen in a pair —
      // far smaller than the corpus, though NOT always broadcastable (a
      // high-dup corpus labels a large fraction of ids), so this stays a
      // plain id-keyed equi-join and lets AQE broadcast when it fits
      corpus.select(col("doc_id"))
        .join(labels, col("doc_id") === col("id"), "left")
        .filter(col("id").isNull || col("cluster_id") === col("doc_id"))
        .select(col("doc_id"), col("id").isNotNull.as("clustered"))
        .orderBy(col("doc_id"))
    }),

    // Paragraph-level exact dedup (the sub-document pass of corpus prep):
    // synthesized two-paragraph corpus — doc i = own text + successor's
    // text (wrapping) joined by \n\n, so every paragraph appears in exactly
    // two documents — then first-occurrence-wins dedup on the digest-keyed
    // production path. Expected tally: doc 0 keeps both paragraphs, the
    // last doc keeps none, every other doc keeps exactly its second. The
    // global-window corpus SYNTHESIS is fixture-building, not the operator.
    // Seed text is newline-stripped first: the fixture (and its oracle)
    // models exactly two paragraphs per doc, which a \n\n inside future
    // seed text would silently break — strip on BOTH sides so the
    // assumption is enforced rather than assumed
    "x35_paragraph_dedup" -> ((s, dir) => {
      Dedup.paragraphDedup(wrappedTwoParagraphCorpus(s, dir), "doc_id", "text")
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_paras"),
          count(when(col("kept"), 1)).as("n_kept"),
          coalesce(sum(when(col("kept"), length(col("para")))), lit(0))
            .cast("long").as("kept_chars"))
        .select(col("id").as("doc_id"), col("n_paras"), col("n_kept"),
          col("kept_chars"))
    }),

    // Paragraph dedup's production OUTPUT, hash-checked end to end: the
    // x35 corpus deduped and then REASSEMBLED — surviving paragraphs
    // rejoined per document in position order (full text compared by the
    // oracle hash; the fully-duplicated last doc must vanish)
    "x40_paragraph_reassembly" -> ((s, dir) => {
      Dedup.reassembleKept(Dedup.paragraphDedup(
          wrappedTwoParagraphCorpus(s, dir), "doc_id", "text"))
        .select(col("id").as("doc_id"), col("text"))
    }),

    // Statistical quality scoring (CCNet-style perplexity proxy): per-doc
    // unigram NLL under the corpus's own distribution — no external model
    "x42_unigram_nll" -> ((s, dir) =>
      TextAnalysis.unigramNll(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"), col("unigram_nll"))),

    // Fuzzy decontamination: per-doc MAX Jaccard vs any benchmark doc
    // (bench = docs < 20, as x22) — pairwise attribution where x22 gives
    // the aggregate hit rate; hashed production path, string-shingle
    // oracle. One row per doc: zero-overlap docs score 0.0 (not omitted)
    "x46_bench_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.benchMaxJaccard(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 20))
    }),

    // Dataset-version diff (lineage QA before promoting a corpus refresh):
    // v2 drops %7 ids, revises %10 texts, adds 20 new ids — the per-status
    // churn tally is what a versioning workflow reviews
    "x45_dataset_diff" -> ((s, dir) => {
      val v1 = t(s, dir, "documents")
      val v2 = v1.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(" revised")))
            .otherwise(col("text")).as("text"))
        .unionByName(v1.filter(col("doc_id") < 20)
          .select((col("doc_id") + 90000).as("doc_id"),
            concat(lit("new doc "), col("doc_id").cast("string")).as("text")))
      graft.ops.Versioning.datasetDiff(v1, v2, "doc_id", "text")
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
    }),

    // Domain filtering prep (RefinedWeb-style): extract URL hosts over a
    // corpus with planted links, per-domain doc/url counts + block flag
    "x44_domain_stats" -> ((s, dir) => {
      val corpus = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit(" see https://site"),
              (col("doc_id") % 6).cast("string"), lit(".example.com/page")))
            .otherwise("")).as("text"))
      corpus.select(col("doc_id"), TextAnalysis.urlDomain(col("text")).as("domain"))
        .filter(col("domain") =!= "")
        .groupBy(col("domain"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_urls"))
        .withColumn("blocked", col("domain") === "site0.example.com")
    }),

    // Mixture diagnostics: per-source KL divergence from the corpus token
    // distribution (the post-sampling QA check pairing with x38)
    "x43_source_kl" -> ((s, dir) =>
      TextAnalysis.sourceTokenKl(t(s, dir, "documents"), "source", "text")
        .select(col("src").as("source"), col("n_tokens"), col("kl"))),

    // Distribution profiling (corpus QA histograms): per-source length /
    // token-count quantiles — exact values oracle-checked, the mergeable
    // percentile_approx scale path pinned to them via x17-style
    // sketch-agreement booleans
    "x47_length_quantiles" -> ((s, dir) =>
      TextAnalysis.distributionProfile(
        t(s, dir, "documents"), "source", "text")),

    // Incremental dedup against the PERSISTED MinHash index, ORACLE-CHECKED
    // per doc: batch1 (corpus + exact copies of docs<30 at +10000) builds
    // the index; batch2 (exact copies of docs<40 at +20000, plus a fresh
    // 10-doc group exact-copied inside the shard) probes it WITHOUT
    // re-reading batch1 text. Exact copies make every planted pair's
    // detection deterministic (identical shingle sets -> identical
    // signatures -> every band collides, Jaccard exactly 1.0), so at
    // threshold 0.999 the survivor set is text-group-min — which DuckDB
    // replays with a window over the normalized text. The +20000 copies of
    // docs 30..39 match batch1 SINGLETONS (docs never seen in a batch1
    // pair), pinning that the index holds ALL ingested docs, not just
    // pair participants; the +20000 copies of docs <30 resolve through
    // batch1's own duplicate group. Text is token-normalized on both
    // sides so whitespace variants can't split a text group the shingle
    // path would merge; zero-token docs (sig-less, never indexable) are
    // excluded on both sides.
    "x48_incremental_dedup" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_incdedup", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      // bounded to docs<500 (the whole corpus at sf0.01, a slice above it):
      // the per-doc oracle needs a fixed fixture, and the benched cost must
      // not scale as 2x(LSH + resolveClusters) on the full corpus — the
      // at-scale incremental path is measured by DedupScaleSmoke instead
      // (same x18-style bounded-oracle-baseline / smoke-scale-path split)
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"),
          concat_ws(" ", TextAnalysis.tokens(col("text"))).as("text"))
        .filter(length(col("text")) > 0)
      val b1 = docs.unionByName(docs.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 10000))
      val fresh = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat(lit("fresh shard document number "),
            col("doc_id").cast("string"),
            lit(" with filler tokens for stable shingles")).as("text"))
      val b2 = docs.filter(col("doc_id") < 40)
        .withColumn("doc_id", col("doc_id") + 20000)
        .unionByName(fresh)
        .unionByName(fresh.withColumn("doc_id", col("doc_id") + 10000))
      val p = IncrementalDedup.Params(shingleW = 3, k = 32, bands = 8,
        threshold = 0.999, maxBucket = 256)
      val rep1 = IncrementalDedup.buildIndex(b1, "doc_id", "text", root, p, "b1")
      val rep2 = IncrementalDedup.addShard(s, root, b2, "doc_id", "text", "b2")
      rep1.withColumn("batch", lit(1))
        .unionByName(rep2.withColumn("batch", lit(2)))
        .select(col("id").as("doc_id"), col("batch"), col("cluster_id"),
          col("survived"))
        .orderBy(col("doc_id"))
    }),

    // Incremental-vs-full EQUALITY on a NEAR-dup corpus (the hash-bearing
    // path x48's exact fixture can't oracle per doc): shard-by-shard index
    // state must equal one full-union dedup — label sets compared
    // frame-exact in Spark, surfaced as x17-style oracle booleans. Bounded
    // to docs<300 because the check intentionally runs THREE full LSH
    // passes (build + probe + full-union reference) — the bound keeps the
    // benched cost flat across scale factors; the equality claim itself is
    // structural (shared candidate/verify primitives), not size-dependent.
    "x49_incremental_vs_full" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_incfull", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val toks = TextAnalysis.tokens(col("text"))
      val b2 = docs.filter(col("doc_id") < 25)
        .withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text",
          concat_ws(" ", slice(toks, lit(1), (size(toks) * 0.8).cast("int"))))
        .unionByName(docs.filter(col("doc_id") >= 25 && col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 20000))
      val p = IncrementalDedup.Params(shingleW = 3, k = 32, bands = 8,
        threshold = 0.5, maxBucket = 256)
      IncrementalDedup.buildIndex(docs, "doc_id", "text", root, p, "b1")
      IncrementalDedup.addShard(s, root, b2, "doc_id", "text", "b2")
      val incLabels = IncrementalDedup.currentLabels(s, root)
        .select(col("id"), col("cluster_id"))
      val fullLabels = Dedup.resolveClusters(
        Dedup.minhashLshPairs(docs.unionByName(b2), "doc_id", "text",
          shingleW = 3, k = 32, bands = 8, threshold = 0.5,
          maxBucketSize = 256).select(col("id_a"), col("id_b")))
      val diff = incLabels.except(fullLabels)
        .unionByName(fullLabels.except(incLabels))
      val stateMatches = diff.isEmpty
      // the 25 exact copies (ids 20025..20049) pair deterministically
      val nExactDropped = IncrementalDedup.droppedIds(s, root)
        .filter(col("id") >= 20000 && col("id") < 20050).count()
      docs.unionByName(b2).agg(
          count(lit(1)).as("n_union"),
          sum(when(col("doc_id") >= 10000, 1).otherwise(0)).cast("long")
            .as("n_batch2"))
        .withColumn("state_matches_full", lit(stateMatches))
        .withColumn("exact_copies_all_dropped", lit(nExactDropped == 25L))
    }),

    // APPENDABLE IVF index lifecycle (the retrieval sibling of x48/x49):
    // build the persisted index + frozen centroids from 80% of the
    // vectors, APPEND the remaining 20% as a shard — assignment runs
    // against the PERSISTED centroids, one map-only pass over the shard,
    // the existing index never re-read — then batch-search through the
    // appended index. Oracle booleans (x17 pattern): results equal an
    // in-memory searchBatch over the full corpus assigned with the same
    // model (frame-exact), and the executed plan still prunes partitions
    // on centroid_id after the append (the x27 embedded plan guard).
    "x50_ivf_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      val shard = emb.filter(col("vec_id") % 5 === 0)
      val model = IVF.train(base, "vec_id", "embedding", nc = 16, iters = 3)
      val idx = ParityQueries.tmpPath("graft_ivf_app", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
      IVF.writeIndexAppendable(IVF.assign(base, "embedding", model), idx,
        model, "base")
      IVF.appendVectors(s, idx, shard, "vec_id", "embedding", "s1")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val viaIndex = IVF.searchBatchAppendable(s, idx, q, "vec_id",
        "embedding", "query_id", k = 10, nprobe = 4)
      val prunedOk = "PartitionFilters: \\[[^\\]]*centroid_id".r
        .findFirstIn(viaIndex.queryExecution.executedPlan.toString).isDefined
      val ref = IVF.searchBatch(IVF.assign(emb, "embedding", model), q,
        "vec_id", "embedding", "query_id", model, k = 10, nprobe = 4)
      val matches = viaIndex.exceptAll(ref)
        .unionByName(ref.exceptAll(viaIndex)).isEmpty
      emb.agg(count(lit(1)).as("n_vectors"),
          sum(when(col("vec_id") % 5 === 0, 1).otherwise(0)).cast("long")
            .as("n_appended"))
        .withColumn("n_queries", lit(5L))
        .withColumn("append_matches_full", lit(matches))
        .withColumn("partition_pruned", lit(prunedOk))
    }),

    // Index DELETE lifecycle (x69): tombstone ids spanning base AND
    // appended shards, search must equal brute probe semantics over the
    // surviving corpus with the prune intact; compaction applies
    // tombstones physically (clearing them) and changes no answer. The
    // frame-equality-boolean family of x50.
    "x69_ivf_delete" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      val shard = emb.filter(col("vec_id") % 5 === 0)
      val model = IVF.train(base, "vec_id", "embedding", nc = 16, iters = 3)
      val idx = ParityQueries.tmpPath("graft_ivf_del", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
      IVF.writeIndexAppendable(IVF.assign(base, "embedding", model), idx,
        model, "base")
      IVF.appendVectors(s, idx, shard, "vec_id", "embedding", "s1")
      // deletes hit appended rows (%10==0) and base rows (%10==1)
      val doomed = emb.filter(col("vec_id") % 10 <= 1)
      IVF.deleteVectors(s, idx, doomed, "vec_id", "d1")
      val q = emb.filter(col("vec_id") % 10 === 7).limit(5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val afterDelete = IVF.searchBatchAppendable(s, idx, q, "vec_id",
        "embedding", "query_id", k = 10, nprobe = 4)
      val prunedOk = "PartitionFilters: \\[[^\\]]*centroid_id".r
        .findFirstIn(afterDelete.queryExecution.executedPlan.toString)
        .isDefined
      val ref = IVF.searchBatch(
        IVF.assign(emb.filter(col("vec_id") % 10 > 1), "embedding", model),
        q, "vec_id", "embedding", "query_id", model, k = 10, nprobe = 4)
      val delMatches = afterDelete.exceptAll(ref)
        .unionByName(ref.exceptAll(afterDelete)).isEmpty
      val noDeleted = afterDelete.filter(col("vec_id") % 10 <= 1).isEmpty
      IVF.compactVectors(s, idx, "vec_id", "c1")
      val afterCompact = IVF.searchBatchAppendable(s, idx, q, "vec_id",
        "embedding", "query_id", k = 10, nprobe = 4)
      val compactMatches = afterCompact.exceptAll(ref)
        .unionByName(ref.exceptAll(afterCompact)).isEmpty
      val tombsGone = !new java.io.File(s"$idx/tombstones").exists()
      val nLive = s.read.parquet(s"$idx/vectors").count()
      emb.agg(count(lit(1)).as("n_vectors"),
          sum(when(col("vec_id") % 10 <= 1, 1).otherwise(0)).cast("long")
            .as("n_deleted"))
        .withColumn("n_live_after_compact", lit(nLive))
        .withColumn("delete_masks_search", lit(delMatches && noDeleted))
        .withColumn("compact_preserves_answers", lit(compactMatches))
        .withColumn("tombstones_cleared", lit(tombsGone))
        .withColumn("partition_pruned", lit(prunedOk))
    }),

    // Retraction feed after cluster-root changes, ORACLE-CHECKED per doc —
    // the republication gap incremental publishing leaves open (a later
    // shard changes labels of docs whose survivor reports already shipped;
    // republishDelta emits exactly the (id, old, new) rows a downstream
    // consumer must reconcile). The fixture forces a DETERMINISTIC label
    // change without hash-dependent near-dup bridging: exact-copy clusters
    // built at ids +500/+1500 (b1) and appended at +2500 (b2, changes
    // nothing — pinned by the append_retracted_nothing boolean), then b3
    // ingests copies at SMALLER ids 5..9, so each touched cluster's
    // min-id root decreases and every already-published member relabels.
    // Exact copies pair deterministically (J=1.0 at threshold 0.999), so
    // DuckDB replays both the published-as-of-b2 and the current label
    // views with text-group window minima and diffs them — a full
    // value-level oracle for the feed, same family as x48.
    "x51_republish_delta" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_republish", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val base = t(s, dir, "documents").filter(col("doc_id") < 10)
        .select(col("doc_id"),
          concat_ws(" ", TextAnalysis.tokens(col("text"))).as("text"))
        .filter(length(col("text")) > 0)
      val b1 = base.select((col("doc_id") + 500).as("doc_id"), col("text"))
        .unionByName(
          base.select((col("doc_id") + 1500).as("doc_id"), col("text")))
      val b2 = base.select((col("doc_id") + 2500).as("doc_id"), col("text"))
      val b3 = base.filter(col("doc_id") < 5)
        .select((col("doc_id") + 5).as("doc_id"), col("text"))
      val p = IncrementalDedup.Params(shingleW = 3, k = 32, bands = 8,
        threshold = 0.999, maxBucket = 256)
      IncrementalDedup.buildIndex(b1, "doc_id", "text", root, p, "b1")
      IncrementalDedup.addShard(s, root, b2, "doc_id", "text", "b2")
      // joining an existing cluster without changing its root retracts
      // nothing — the feed only fires on actual label changes
      val nAfterAppend =
        IncrementalDedup.republishDelta(s, root, Seq("b1")).count()
      IncrementalDedup.addShard(s, root, b3, "doc_id", "text", "b3")
      IncrementalDedup.republishDelta(s, root, Seq("b1", "b2"))
        .withColumn("append_retracted_nothing", lit(nAfterAppend == 0L))
        .orderBy(col("id"))
    }),

    // Boilerplate DISCOVERY (the mining pass that builds the block-list
    // boilerplate REMOVAL consumes): most frequent paragraphs over a
    // corpus with planted shared footers — digest-keyed counting, text
    // recovered as the group min, top-5 via TakeOrderedAndProject
    "x41_common_paragraphs" -> ((s, dir) => {
      val corpus = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0, "\n\nshared footer alpha")
            .when(col("doc_id") % 7 === 0, "\n\nshared footer beta")
            .otherwise("")).as("text"))
      TextAnalysis.commonParagraphs(corpus, "doc_id", "text", k = 5)
    }),

    // Bigram next-token top-3 per prefix (LM-data diagnostics / tokenizer
    // prep): zip-sliced bigrams, counted once, ranked through the
    // spillable window path (prefix cardinality = vocabulary = unbounded)
    "x39_bigram_topk" -> ((s, dir) =>
      TextAnalysis.nextTokenTopK(t(s, dir, "documents"), "text", 3)
        .orderBy(col("prefix"), col("pair_freq").desc, col("next_token"))),

    // Dataset-mixture sampling: per-source keep rates derived from a token
    // budget (rate = min(1, budget/source_tokens)), deterministic sample,
    // per-source tally. Runs the oracle-replayable id-mod path; the
    // hash-path agreement-in-expectation is spec'd in SamplingSpec
    "x38_mixture_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("token_cnt"))
      graft.ops.Sampling.mixtureByTokenBudget(docs, "source", "doc_id",
          "token_cnt", budget = 600, byHash = false)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("token_cnt")).as("tokens_sampled"),
          round(max(col("mix_rate")), 6).as("mix_rate"))
    }),

    // Deterministic content-hash train/val/test split (md5 nibble buckets,
    // 14/1/1): engine-portable, so unlike the xxhash64 paths this split is
    // fully oracle-checkable — DuckDB reproduces the exact assignment
    "x37_hash_split" -> ((s, dir) =>
      graft.ops.Sampling.contentHashSplit(t(s, dir, "documents"), "text")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("total_chars"))),

    // Reproducible corpus shuffle into training shards (the pre-packing
    // permutation): md5-keyed, so DuckDB replays the ENTIRE permutation —
    // every (doc, shard, position) — not just aggregates
    "x52_corpus_shuffle" -> ((s, dir) =>
      graft.ops.Sampling.deterministicShuffle(
          t(s, dir, "documents").select(col("doc_id")), "doc_id",
          numShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))),

    // Cross-dataset priority dedup: exact copies planted as a
    // higher-priority "curated mirror" of every third doc — the survivor
    // must be the mirror (larger id, higher priority), not exact-dedup's
    // min id. Digest-grouped in Spark, text-grouped in DuckDB (the x01
    // equivalence), survivor election replayed with a priority-ordered
    // window.
    "x54_priority_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val u = docs.withColumn("priority", lit(1))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"),
            lit(10).as("priority")))
      Dedup.exactByPriority(u, "text", "doc_id", "priority")
        .orderBy(col("doc_id"))
    }),

    // Quality-curriculum sampling: exact quintile cuts over the x03
    // quality score, per-bucket keep rates rising with quality, id-mod
    // keep decision — every stage DuckDB-replayable (score formula from
    // x03, quantile_cont cuts, list-filter bucketing, mod arithmetic)
    "x53_curriculum_sample" -> ((s, dir) => {
      val scored = TextAnalysis.qualityMetrics(t(s, dir, "documents"))
        .select(col("doc_id"), col("token_cnt").cast("long").as("token_cnt"),
          col("quality_score"))
      graft.ops.Sampling.quantileBucketSample(scored, "doc_id",
          "quality_score", rates = Seq(0.1, 0.2, 0.4, 0.7, 1.0))
        .groupBy(col("bucket"))
        .agg(max(col("rate")).as("rate"),
          count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), col("token_cnt")).otherwise(0L))
            .as("tokens_kept"))
        .orderBy(col("bucket"))
    }),

    // Lee-et-al-style exact-substring dedup at 5-gram granularity: spans
    // repeated >= 3 times corpus-wide are removed from every document and
    // the survivors reassembled. A planted 6-token boilerplate tail on
    // every 3rd doc guarantees a nonempty frequent set; any NATURAL
    // repetition the synthetic corpus carries is removed too — the oracle
    // replays the whole frequent-set computation, not just the plant
    "x57_repeated_spans" -> ((s, dir) => {
      val boiler = "graftspan0 graftspan1 graftspan2 graftspan3 graftspan4 graftspan5"
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" " + boiler))
            .otherwise(lit(""))).as("text"))
      Dedup.removeRepeatedSpans(docs, "doc_id", "text", n = 5, minCount = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Asymmetric containment: middle 40% token slices (id+30000) are fully
    // CONTAINED in their originals — containment_b ~ 1.0 while jaccard
    // sits near 0.4, the sub-document-inclusion case MinHash-style
    // symmetric dedup misses
    "x58_containment" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      val base = t(s, dir, "documents")
      val slices = base.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 30000)
        .withColumn("text", concat_ws(" ",
          slice(toks, (size(toks) * 0.3).cast("int") + 1,
            (size(toks) * 0.4).cast("int"))))
      val corpus = base.unionByName(slices)
      val pairs = corpus.filter(col("doc_id") >= 30000)
        .select((col("doc_id") - 30000).as("id_a"), col("doc_id").as("id_b"))
      Dedup.ngramContainment(pairs, corpus, "doc_id", "text", n = 3)
        .select(col("id_a"), col("id_b"), col("containment_a"),
          col("containment_b"), col("jaccard"))
    }),

    // BPE merge-round statistic: corpus-wide adjacent char-pair counts
    // (word-frequency pre-aggregated), top 30 by (count desc, pair asc)
    "x59_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(t(s, dir, "documents"), "text", k = 30)),

    // Alpha-sampling mixture weights over the 20 sources: p_i ~ n_i^0.5
    // against a 200k-token budget, rates ready for x38's sampler
    "x60_temperature_mix" -> ((s, dir) =>
      graft.ops.Sampling.temperatureMixture(t(s, dir, "documents"),
          "source", "text", alpha = 0.5, budget = 200000L)
        .orderBy(col("source"))),

    // Int8-quantized retrieval with exact re-rank (FAISS-SQ8 recipe):
    // whole-corpus ranking on 4-8x-smaller codes, exact cosine on the top
    // rerank*k only. Quantization pinned multiply-before-divide so the
    // oracle replays code values bit-for-bit
    "x61_quantized_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id").isin(0L, 7L, 13L))
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.knnQuantizedRerank(emb, queries, "vec_id", "embedding",
        "query_id", k = 8, rerank = 4)
    }),

    // Crawl-style URL canonicalization dedup: planted uppercase hosts,
    // default ports, utm_* params and fragments; canonical groups merge
    // across the utm_campaign variants (120 raw keys -> 40 canonical)
    "x62_url_dedup" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(col("doc_id"), concat(
        lit("HTTPS://WWW.Src"), (col("doc_id") % 40).cast("string"),
        lit(".COM:443/a/"), (col("doc_id") % 20).cast("string"),
        lit("?utm_source=feed&utm_campaign=c"), (col("doc_id") % 3).cast("string"),
        lit("&ref="), (col("doc_id") % 10).cast("string"),
        lit("#frag")).as("url"))
      urls.withColumn("canonical_url",
          TextAnalysis.canonicalizeUrl(col("url")))
        .groupBy(col("canonical_url"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("dup_count"))
        .orderBy(col("canonical_url"))
    }),

    // Intra-document line dedup: docs rebuilt as 4 lines with line 1
    // repeated at position 3 — the map-only RefinedWeb-style pass
    "x63_line_dedup" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          array_join(slice(toks, 1, 5), " "),
          array_join(slice(toks, 6, 5), " "),
          array_join(slice(toks, 1, 5), " "),
          array_join(slice(toks, 11, 5), " ")).as("text"))
      TextAnalysis.dedupLinesWithin(docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // fastText-style hashed linear quality gate: 64 formulaic weight
    // buckets ((b*37+11)%21-10)/10, md5 feature hashing so the oracle
    // replays bucket ids bit-for-bit; scoring is one map-only expression
    "x64_hashed_classifier" -> ((s, dir) => {
      val w = (0 until 64).map(i => ((i * 37 + 11) % 21 - 10) / 10.0).toArray
      TextAnalysis.hashedLinearScore(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", w, bias = -0.25)
        .select(col("doc_id"), col("n_features"), col("score"), col("label"))
        .orderBy(col("doc_id"))
    }),

    // Pre-tokenization text normalization: every even doc gets a planted
    // messy tail (curly quotes, en dash, zero-width, BEL control, tab,
    // double spaces); odd docs pass through unchanged (changed=false)
    "x77_normalize_text" -> ((s, dir) => {
      val messy = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 2 === 0,
          lit(" \u201cq\u201d \u2013 x\u200by\u0007 z\tw  end"))
          .otherwise(lit(""))).as("text"))
      TextAnalysis.normalizeText(messy, "text")
        .select(col("doc_id"), col("normalized"), col("changed"))
        .orderBy(col("doc_id"))
    }),

    // Bigram-LM perplexity scoring (add-0.5 smoothing, self-scored) —
    // the transition-aware upgrade over x42's unigram NLL
    "x76_bigram_nll" -> ((s, dir) =>
      TextAnalysis.bigramNll(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // BM25 top-10 lexical retrieval: three fixed multi-term queries over
    // the documents table (decontamination-review / curation retrieval);
    // score ranked on the 6dp-rounded value with doc_id tie-break so the
    // oracle replays the ordering exactly
    "x78_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1L, "spark window agg"), (2L, "slow query scan"),
        (3L, "customer table join fast"))
        .toDF("query_id", "qtext")
      TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          qs, "query_id", "qtext", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Zipf rank-frequency profile: OLS slope of ln(freq) on ln(rank)
    // over the top-50 ranks + head coverage — the one-row corpus shape
    // summary
    "x79_zipf_profile" -> ((s, dir) =>
      TextAnalysis.zipfProfile(t(s, dir, "documents"), "text", topN = 50)),

    // Crawl WET extraction: every doc wrapped in deterministic markup
    // (style block, script whose BODY contains a closing tag, comment,
    // double-escaped entity) and recovered; map-only chain
    "x80_html_extract" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("<html><head><style>p {color:red}</style></head>" +
            "<body><h1>Doc</h1><p>"),
          col("text"),
          lit("</p><script>var x=\"</p>\";</script>" +
            "<!-- tail comment -->&amp;amp; &lt;tag&gt;&nbsp;fin" +
            "</body></html>")).as("html"))
      TextAnalysis.extractHtmlText(pages, "html")
        .select(col("doc_id"), col("extracted"), col("extracted_chars"))
        .orderBy(col("doc_id"))
    }),

    // ftfy-lite mojibake repair: even docs get a planted
    // UTF-8-read-as-cp1252 tail (cafÃ©, donâ€™t, 25Â°, niÃ±o, â€¦);
    // odd docs pass through with changed=false
    "x86_mojibake_repair" -> ((s, dir) => {
      val messy = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 2 === 0,
          lit(" caf\u00c3\u00a9 don\u00e2\u20ac\u2122t" +
            " 25\u00c2\u00b0 ni\u00c3\u00b1o \u00e2\u20ac\u00a6"))
          .otherwise(lit(""))).as("text"))
      TextAnalysis.repairMojibake(messy, "text")
        .select(col("doc_id"), col("repaired"), col("changed"))
        .orderBy(col("doc_id"))
    }),

    // Per-token collocation neighborhoods: top-3 continuations by PMI
    // for every head token, through the custom TopKPerGroup heap
    // operator (window-rank oracle)
    "x85_pmi_per_token" -> ((s, dir) =>
      TextAnalysis.pmiTopKPerToken(t(s, dir, "documents"), "text",
          minCount = 10, kPerToken = 3)
        .orderBy(col("w1"), col("pmi").desc, col("w2"))),

    // Recall@10 of JL-projected-space retrieval (64 -> 16 dims) vs the
    // exact cosine top-10 — the ANN-configuration QA readout; both
    // rankings and the projection replay exactly in the oracle
    "x84_recall_at_k" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceKnnBatch(emb, q,
        "vec_id", "embedding", "query_id", 10)
      val projCorpus = Similarity.projectRandom(emb, "embedding", 64, 16)
      val projQ = Similarity.projectRandom(q, "qvec", 64, 16)
        .select(col("query_id"), col("projected").as("qvec"))
      val approx = Similarity.bruteForceKnnBatch(projCorpus, projQ,
        "vec_id", "projected", "query_id", 10)
      Similarity.recallAtK(approx, exact, "query_id", "vec_id")
        .orderBy(col("query_id"))
    }),

    // Hybrid retrieval via Reciprocal Rank Fusion: BM25 top-20 fused
    // with a distinct-term-overlap top-20 (two incomparable score
    // scales -> rank-based fusion), fused top-10 per query
    "x83_rrf_hybrid" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val qs = Seq((1L, "spark window agg"), (2L, "slow query scan"),
        (3L, "customer table join fast"))
        .toDF("query_id", "qtext")
      val bm25 = TextAnalysis.bm25TopK(docs, "doc_id", "text", qs,
          "query_id", "qtext", k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val qterms = qs.select(col("query_id"), explode(array_distinct(
        TextAnalysis.tokens(lower(col("qtext"))))).as("term"))
      val dterms = docs.select(col("doc_id"), explode(array_distinct(
        TextAnalysis.tokens(lower(col("text"))))).as("term"))
      val ov = dterms.join(broadcast(qterms), Seq("term"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("overlap"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("overlap").desc, col("doc_id").asc)
      val ovRank = ov.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      graft.ops.Similarity.rrfFuse(Seq(bm25, ovRank),
          "query_id", "doc_id", "rank", c = 60, k = 10)
        .orderBy(col("query_id"), col("fused_rank"))
    }),

    // Misra-Gries heavy hitters (typed Aggregator, O(capacity) state):
    // capacity 64 over this corpus's 31-token vocab -> the no-compaction
    // regime where the sketch is provably exact (max_err = 0), so the
    // oracle replays it as plain exact counts
    "x82_frequent_tokens" -> ((s, dir) =>
      TextAnalysis.frequentTokens(t(s, dir, "documents"), "text",
          capacity = 64, k = 10)
        .orderBy(col("est").desc, col("token").asc)),

    // Tokenizer-vocab OOV accounting against the corpus top-12 tokens
    // (the fixture vocab is derived deterministically on both sides)
    "x81_vocab_coverage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = docs
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(12)
      TextAnalysis.vocabCoverage(docs, "doc_id", "text", vocab, "w")
        .orderBy(col("doc_id"))
    }),

    // Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    // weight = token count, md5-derived uniforms, top-100 keys — the
    // oracle replays the exact sample
    "x74_weighted_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Sampling.weightedSample(docs, "doc_id", "n_tokens", k = 100)
        .orderBy(col("sample_key").desc, col("doc_id"))
    }),

    // PMI collocations over the corpus bigrams (word2vec phrase-pass
    // statistic); fully replayable counts + log ratio
    "x75_pmi_collocations" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(t(s, dir, "documents"), "text",
        minCount = 5, k = 30)),

    // Damped PageRank, 3 rounds, over a formula link graph whose strides
    // (7, 13) are coprime to N — every node has outdeg 2 AND exactly 2
    // in-edges, so per-node sums are 2-operand (order-exact in IEEE) and
    // the oracle unrolls the rounds as CTEs
    "x73_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val edges = docs
        .select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 3) % n).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 5) % n).as("dst")))
      graft.ops.Graph.pageRank(edges, "src", "dst", iters = 3)
        .orderBy(col("id"))
    }),

    // Version-to-version token drift: v2 drops every doc_id%10==9 doc and
    // floods every third doc with a planted artifact token pair — the
    // top-40 mass movers surface exactly that churn
    "x72_version_drift" -> ((s, dir) => {
      val v1 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val v2 = v1.filter(col("doc_id") % 10 =!= 9)
        .select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" driftxa driftxa driftxb"))
            .otherwise(lit(""))).as("text"))
      graft.ops.Versioning.versionTokenDrift(v1, v2, "text", k = 40)
    }),

    // JL random projection 64 -> 16 (Achlioptas ±1 signs from md5, so
    // the oracle regenerates the exact matrix); rows exploded per output
    // dim so the compare is scalar-typed
    "x71_random_projection" -> ((s, dir) => {
      Similarity.projectRandom(t(s, dir, "embeddings"), "embedding",
          inDim = 64, outDim = 16)
        .select(col("vec_id"),
          posexplode(col("projected")).as(Seq("dim", "value")))
        .orderBy(col("vec_id"), col("dim"))
    }),

    // SemDeDup: cluster-scoped semantic dedup over the planted near-dup
    // corpus — 8 broadcast centroids, pairwise cosine only WITHIN a
    // cluster, keep-the-outlier survivor rule (the scale path x18's
    // bounded all-pairs baseline cannot be)
    "x65_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = embDupCorpus(emb)
      val cents = emb
        .filter(col("vec_id").isin(0L, 1L, 3L, 7L, 11L, 19L, 23L, 29L))
        .select(col("vec_id").as("cid"),
          transform(col("embedding"), x => x.cast("double")).as("cv"))
      graft.ops.Dedup.semanticDedup(corpus, "vec_id", "v",
          cents, "cid", "cv", 0.9)
        .orderBy(col("vec_id"))
    }),

    // SemDeDup at LARGE nc (80 centroids): exercises the broadcast-join
    // + partial-agg assignment path (literal argmax stops at 64 — the
    // r10 Janino finding), oracle-replayed like x65 so the join path's
    // tie order and keep-the-outlier rule are pinned in a driver
    // artifact, not just the decoy-padded spec
    "x111_semantic_dedup_large" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = embDupCorpus(emb)
      val cents = emb.filter(col("vec_id") < 80)
        .select(col("vec_id").as("cid"),
          transform(col("embedding"), x => x.cast("double")).as("cv"))
      graft.ops.Dedup.semanticDedup(corpus, "vec_id", "v",
          cents, "cid", "cv", 0.9)
        .orderBy(col("vec_id"))
    }),

    // Global token-stream offsets (Megatron .bin/.idx layout prep): the
    // two-level distributed prefix sum; the oracle replays it as one
    // global running sum over (source, doc_id) — same answer, the
    // formulation Spark must NOT use at scale
    "x66_token_offsets" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Packing.globalTokenOffsets(docs, "source", "doc_id",
          "n_tokens")
        .select(col("doc_id"), col("source"), col("n_tokens"), col("offset"))
        .orderBy(col("doc_id"))
    }),

    // (x64-x68 are the round-8 additions: hashed classifier, SemDeDup,
    // token offsets, rare-n-gram links, BPE learn)

    // Iterative BPE merge learning on the classic fixture corpus; the
    // merge sequence is hand-derived ((u,g)x5 -> (h,ug)x4 -> (u,n)x2 ->
    // tie broken lexicographically to (b,un)) and the oracle pins it as
    // literal rows — q35's local-fixture precedent
    "x68_bpe_learn" -> ((s, dir) => {
      import s.implicits._
      val corpus = Seq("hug hug hug hugs pug pun bun").toDF("text")
      TextAnalysis.bpeLearn(corpus, "text", numMerges = 4)
        .orderBy(col("merge_idx"))
    }),
    // BPE round trip: encode with the merges x68's fixture LEARNS (not a
    // hard-coded rule list), incl. an out-of-vocab word ('hugger') that
    // falls back to partial merges — expected segmentations hand-derived
    "x70_bpe_encode" -> ((s, dir) => {
      import s.implicits._
      val corpus = Seq("hug hug hug hugs pug pun bun").toDF("text")
      val merges = TextAnalysis.bpeLearn(corpus, "text", numMerges = 4)
        .orderBy(col("merge_idx"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val docs = Seq((1L, "hug"), (2L, "hugs"), (3L, "pug"), (4L, "bun"),
        (5L, "hugger")).toDF("doc_id", "text")
      TextAnalysis.bpeEncode(docs, "text", merges)
        .select(col("doc_id"), col("text"),
          array_join(col("bpe_tokens"), " ").as("segmented"),
          col("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Rare-n-gram document linking (exact candidate generation): a
    // bounded fixture plants a 4-token group tail on every doc (groups
    // of ~4 via doc_id % 150), so same-group docs share 2 pure-tail
    // trigrams; frequent grams drop before the join by the df cap
    "x67_rare_ngram_pairs" -> ((s, dir) => {
      val g = pmod(col("doc_id"), lit(150)).cast("string")
      val docs = t(s, dir, "documents").filter(col("doc_id") < 600)
        .select(col("doc_id"), concat(col("text"),
          lit(" ra"), g, lit(" rb"), g, lit(" rc"), g, lit(" rd"), g)
          .as("text"))
      graft.ops.Dedup.rareNgramPairs(docs, "doc_id", "text",
          n = 3, maxDf = 8, minShared = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Multimodal plumbing: binary payload + metadata -> partition-batched
    // feature extraction (decode stubbed; rows-only check)
    "x11_multimodal" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val media = Multimodal.fromDocuments(t(s, dir, "documents"))
        .as[Multimodal.MediaRow]
      Multimodal.extractFeatures(media, dim = 16).toDF()
        .select(col("media_id"), col("n_bytes"),
          round(element_at(col("feature"), 1).cast("double"), 6).as("f0"),
          round(element_at(col("feature"), 2).cast("double"), 6).as("f1"))
    }),

    // Detector-evaluation P/R/F1 (Dedup.pairMetrics): planted predicted
    // pairs with known errors vs exact-Jaccard ground truth over the
    // near-dup corpus. Predicted misses ids 40-49 (recall loss), adds 10
    // consecutive-id false pairs (precision loss), and carries reversed
    // duplicates plus a self pair the canonicalization must collapse.
    "x87_pair_metrics" -> ((s, dir) => {
      val corpus = nearDupCorpus(t(s, dir, "documents"))
      val cand = corpus.filter(col("doc_id") >= 10000)
        .select((col("doc_id") - 10000).as("id_a"), col("doc_id").as("id_b"))
      val truth = Dedup.ngramJaccard(cand, corpus, "doc_id", "text", n = 3)
        .filter(col("jaccard") >= 0.5).select(col("id_a"), col("id_b"))
      val docs = t(s, dir, "documents")
      val pred = docs.filter(col("doc_id") < 40)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 10000).as("id_b"))
        .unionByName(docs.filter(col("doc_id") < 10)
          .select((col("doc_id") + 10000).as("id_a"), col("doc_id").as("id_b")))
        .unionByName(docs.filter(col("doc_id") < 10)
          .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b")))
        .unionByName(docs.filter(col("doc_id") === 7)
          .select(col("doc_id").as("id_a"), col("doc_id").as("id_b")))
      Dedup.pairMetrics(pred, truth, "id_a", "id_b")
    }),

    // Quality-gate TRAINING (CCNet loop, train-on-own-corpus): full-batch
    // GD for the hashed logistic regression, 3 epochs on the planted
    // separable fixture (even docs carry ' qpos qpos', odd ' qneg qneg').
    // Output = full weight trajectory ((epoch, bucket, weight); -1=bias),
    // replayed epoch-by-epoch in DuckDB thanks to 6dp weight rounding
    // after every update.
    "x88_logreg_train" -> ((s, dir) => {
      import s.implicits._
      val m = TextAnalysis.trainHashedLogReg(logRegFixture(t(s, dir,
        "documents")), "text", "y", buckets = 64, epochs = 3, lr = 0.5,
        useBigrams = false)
      m.trajectory.toDF("epoch", "bucket", "weight")
        .orderBy(col("epoch"), col("bucket"))
    }),

    // The CLOSED loop: train the gate (x88 config), then score the same
    // corpus with hashedLinearScore using the trained weights — the
    // train->infer->gate pipeline as one query.
    "x90_logreg_gate" -> ((s, dir) => {
      val fix = logRegFixture(t(s, dir, "documents"))
      val m = TextAnalysis.trainHashedLogReg(fix, "text", "y",
        buckets = 64, epochs = 3, lr = 0.5, useBigrams = false)
      TextAnalysis.hashedLinearScore(fix.select(col("doc_id"), col("text")),
          "doc_id", "text", m.weights, bias = m.bias, useBigrams = false)
        .select(col("doc_id"), col("n_features"), col("score"), col("label"))
        .orderBy(col("doc_id"))
    }),

    // Multimodal metadata/payload statistics — the ORACLE-CHECKED side of
    // the x11 plumbing: payload byte counts and md5 digests (binary
    // integrity through the media schema), declared resize dims, and the
    // sampleFrames explode count under a synthetic per-row duration. The
    // stubbed decode stays covered by x11 + specs; everything here is
    // decode-independent and replays exactly in DuckDB.
    "x89_media_stats" -> ((s, dir) => {
      val media = Multimodal.fromDocuments(t(s, dir, "documents"))
        .withColumn("meta", struct(col("meta.mediaType"), col("meta.width"),
          col("meta.height"), (col("media_id") % 5 * 1000).as("durationMs")))
      val resized = Multimodal.resize(media, 224, 224)
      val frames = Multimodal.sampleFrames(resized, everyMs = 1000L)
        .groupBy("media_id").agg(count(lit(1)).as("n_frames"))
      resized.join(frames, Seq("media_id"))
        .select(col("media_id"), col("meta.mediaType").as("media_type"),
          length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("payload_md5"),
          col("meta.width").as("target_w"), col("meta.height").as("target_h"),
          col("n_frames"))
        .orderBy(col("media_id"))
    }),

    // Hard-negative mining (DPR/Contriever): top-10 nearest excluding the
    // labeled positives (each query's self-vector and its id+7 neighbor) —
    // exclusion BEFORE k-selection, so every query still gets exactly 10
    "x91_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val pos = q.select(col("query_id"), col("query_id").as("vec_id"))
        .unionByName(q.select(col("query_id"),
          (col("query_id") + 7).as("vec_id")))
      Similarity.hardNegatives(emb, q, pos, "vec_id", "embedding",
          "query_id", k = 10)
        .orderBy(col("query_id"), col("cosine_sim").desc, col("vec_id"))
    }),

    // Cross-source overlap audit: exact 3-gram-set Jaccard between every
    // source pair, with a planted 'srcmirror' source re-publishing every
    // 5th document so real overlap exists against all 20 originals
    "x92_source_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.select(col("source"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select(lit("srcmirror").as("source"), col("text")))
      Dedup.sourceOverlap(corpus, "source", "text", n = 3)
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Fill-in-the-middle rewrite (Bavarian et al.): PSM serialization on
    // an md5-deterministic half of the corpus, cuts on token boundaries
    "x93_fim_transform" -> ((s, dir) =>
      TextAnalysis.fimTransform(t(s, dir, "documents"), "doc_id", "text",
          fimRate = 0.5)
        .select(col("doc_id"), col("fim_applied"), col("text_fim"))
        .orderBy(col("doc_id"))),

    // Per-source n-gram diversity (distinct-n): a planted boilerplate
    // source (one template repeated) sits alongside the real sources, so
    // the collapsing-ratio signal the metric exists for is visible
    "x94_ngram_diversity" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.select(col("source"), col("text"))
        .unionByName(docs.filter(col("doc_id") < 40)
          .select(lit("srcboiler").as("source"),
            lit("click here to subscribe now and save big today").as("text")))
      TextAnalysis.ngramDiversity(corpus, "source", "text")
        .orderBy(col("source"), col("n"))
    }),

    // Unicode-script routing profile: planted Cyrillic/Han/Arabic tails on
    // a deterministic quarter of the (otherwise all-Latin) corpus each, so
    // every script branch and the mixed-script case are exercised
    "x95_script_profile" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val planted = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 1, lit(" привет мир"))
            .when(col("doc_id") % 4 === 2, lit(" 你好世界"))
            .when(col("doc_id") % 4 === 3, lit(" مرحبا"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.scriptProfile(planted, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Loss-mask twin of x57: same planted boilerplate span, but the text
    // stays intact and the per-token 0/1 keep mask is emitted instead
    "x96_span_mask" -> ((s, dir) => {
      val boiler = "graftspan0 graftspan1 graftspan2 graftspan3 graftspan4 graftspan5"
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" " + boiler))
            .otherwise(lit(""))).as("text"))
      Dedup.repeatedSpanMask(docs, "doc_id", "text", n = 5, minCount = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Concat-and-chunk sequence map at seqLen=256: ~90-token docs pack
    // ~3 per sequence with regular boundary spans — every branch of the
    // incidence arithmetic fires on the real corpus
    "x97_sequence_map" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Packing.sequenceAssignments(docs, "source", "doc_id",
          "n_tokens", seqLen = 256L)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("offset"),
          col("seq_id"), col("doc_start"), col("start_in_seq"), col("n_toks"))
        .orderBy(col("doc_id"), col("seq_id"))
    }),

    // Contrastive anchor/positive pairs from adjacent 32-token chunks:
    // ~90-token docs emit 2 pairs, the final short chunk exercises the
    // ragged tail
    "x98_contrastive_pairs" -> ((s, dir) =>
      TextAnalysis.contrastivePairs(t(s, dir, "documents"), "doc_id",
          "text", chunkTokens = 32)
        .orderBy(col("doc_id"), col("pair_id"))),

    // Mean-pooled class centroids over the embeddings table (label plays
    // the document; vectors play its chunks) — long-form output so every
    // pooled value is hash-compared
    "x99_vector_pool" -> ((s, dir) =>
      Similarity.meanPoolVectors(t(s, dir, "embeddings"), "label",
          "embedding")
        .orderBy(col("group_id"), col("pos"))),

    // Per-source percentile calibration of the quality score — "drop
    // every source's bottom 20%" instead of one global cutoff; ties on
    // score share a percent_rank so the keep flag is deterministic
    "x100_percentile_norm" -> ((s, dir) => {
      val scored = TextAnalysis.qualityMetrics(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("text")))
      graft.ops.Sampling.perSourcePercentile(scored, "source",
          "quality_score")
        .select(col("doc_id"), col("source"), col("quality_score"),
          col("pct"), (col("pct") >= 0.2).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // Leakage-safe split: near-dup clusters (x26's oracle-checked chain
    // fixture — doc <-> +10000 <-> +20000 connected only transitively)
    // are the split unit; every member of a 3-chain must land on ONE
    // side, singletons split by their own id
    "x103_leakage_safe_split" -> ((s, dir) => {
      val (corpus, cand) = chainCorpusAndCands(t(s, dir, "documents"))
      val pairs = Dedup.ngramJaccard(cand, corpus, "doc_id", "text", n = 3)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
      val labels = Dedup.resolveClusters(pairs)
      graft.ops.Sampling.leakageSafeSplit(corpus.select(col("doc_id")),
          "doc_id", labels, trainBuckets = 12, valBuckets = 2)
        .select(col("doc_id"), col("cluster_key"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // IVF index-health statistics across the append/delete/compact
    // lifecycle (x69's boolean-invariant oracle convention): per-centroid
    // live/dead/shard accounting verified against direct recomputes at
    // each lifecycle step, plus the aggregate counts DuckDB CAN replay
    "x102_index_stats" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      val model = IVF.train(base, "vec_id", "embedding", nc = 16, iters = 3)
      val idx = ParityQueries.tmpPath("graft_ivf_stats", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
      IVF.writeIndexAppendable(IVF.assign(base, "embedding", model), idx,
        model, "base")
      val s0 = IVF.indexStats(s, idx, "vec_id")
      val rowPerCentroid = s0.count() == 16 &&
        s0.agg(min("centroid_id"), max("centroid_id")).head() ==
          org.apache.spark.sql.Row(0, 15)
      val direct = IVF.assign(base, "embedding", model)
        .groupBy("centroid_id").agg(count(lit(1)).as("n_live"))
      val liveMatchesDirect = s0.filter(col("n_live") > 0)
        .select("centroid_id", "n_live")
        .exceptAll(direct).isEmpty
      IVF.appendVectors(s, idx, emb.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", "s1")
      IVF.deleteVectors(s, idx, emb.filter(col("vec_id") % 10 === 0),
        "vec_id", "d1")
      val s1 = IVF.indexStats(s, idx, "vec_id")
      val agg1 = s1.agg(sum("n_live"), sum("n_dead")).head()
      IVF.compactVectors(s, idx, "vec_id", "c1")
      val s2 = IVF.indexStats(s, idx, "vec_id")
      val compacted = s2.agg(sum("n_dead")).head().getLong(0) == 0L &&
        s2.filter(col("n_live") > 0 && col("n_shards") =!= 1).count() == 0L
      emb.agg(count(lit(1)).as("n_vectors"),
          sum(when(col("vec_id") % 10 === 0, 1).otherwise(0)).cast("long")
            .as("n_deleted"))
        .withColumn("n_live_after_delete", lit(agg1.getLong(0)))
        .withColumn("n_dead_after_delete", lit(agg1.getLong(1)))
        .withColumn("row_per_centroid", lit(rowPerCentroid))
        .withColumn("live_matches_direct", lit(liveMatchesDirect))
        .withColumn("compact_reclaims_and_collapses", lit(compacted))
    }),

    // Embedding-table health: per-label norm distribution + zero/
    // non-finite counts + dim spread, with a planted zero vector (every
    // 100th) AND a planted all-Infinity vector (every 100th, offset 1)
    // so BOTH broken-encoder branches are live — the Inf leg pins the
    // exclude-non-finite-from-norm-stats contract cross-engine
    "x101_embedding_health" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("label"),
        when(col("vec_id") % 100 === 0,
          transform(col("embedding"), _ => lit(0.0f)))
          .when(col("vec_id") % 100 === 1,
            transform(col("embedding"), _ => lit(Float.PositiveInfinity)))
          .otherwise(col("embedding")).as("embedding"))
      Similarity.embeddingHealth(emb, "label", "embedding")
        .orderBy(col("group_id"))
    }),

    // Sketch-vs-exact source overlap + persisted-store merge identity
    // (x102's boolean-invariant oracle convention): the exact x92
    // Jaccard replays in DuckDB; the xxhash64 MinHash sketch cannot, so
    // its accuracy (|est - exact| inside the k=128 binomial envelope
    // 3*sqrt(J(1-J)/k) + one-slot slack) and the
    // ingest-in-two-shards == one-shot store identity ride as boolean
    // invariant columns the oracle pins to TRUE
    "x104_overlap_sketch" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.select(col("source"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select(lit("srcmirror").as("source"), col("text")))
      val exact = Dedup.sourceOverlap(corpus, "source", "text", n = 3)
      // persisted: est feeds both exceptAll legs AND the final join;
      // store feeds both exceptAll legs (3/2 consumers re-running the
      // sketch otherwise)
      val est = Dedup.sourceOverlapMinhash(corpus, "source", "text",
        n = 3, k = 128).persist()
      val root = ParityQueries.tmpPath("graft_sig_store", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      // two-shard ingest through the persisted store: min-merge is
      // commutative+idempotent, so the merged state must estimate
      // identically to the one-shot sketch
      val shard = pmod(xxhash64(col("text")), lit(2))
      Dedup.ingestSourceSignatures(s, root,
        corpus.filter(shard === 0), "source", "text", n = 3, k = 128)
      Dedup.ingestSourceSignatures(s, root,
        corpus.filter(shard === 1), "source", "text", n = 3, k = 128)
      val store = Dedup.estimateSourceOverlap(s, root).persist()
      val storeMatches = store.exceptAll(est).isEmpty &&
        est.exceptAll(store).isEmpty
      store.unpersist()
      exact.join(est, Seq("source_a", "source_b"))
        .withColumn("est_within_bound",
          abs(col("jaccard_est") - col("jaccard")) <=
            lit(3.0) * sqrt(col("jaccard") * (lit(1.0) - col("jaccard")) /
              lit(128.0)) + lit(1.0 / 128))
        .withColumn("store_matches_oneshot", lit(storeMatches))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          col("n_inter"), col("jaccard"), col("est_within_bound"),
          col("store_matches_oneshot"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Chat-transcript turn extraction + role loss masking (the SFT prep
    // step): role-headed lines with a multi-line assistant answer, a
    // case/space-mangled header, and (every 5th doc) a role-less
    // preamble the parser must surface as turn 0 / unknown
    "x106_chat_turns" -> ((s, dir) =>
      TextAnalysis.chatLossMask(
          TextAnalysis.chatTurns(chatFixture(s, dir), "doc_id", "text"))
        .orderBy(col("doc_id"), col("turn_idx"))),

    // SFT packing composition — the seam x106 -> x97: loss-masked chat
    // TURNS are the packing unit (unit_id = doc*100 + turn), sharded by
    // doc hash, mapped into 128-token training sequences; role and
    // train_mask ride along so a loader can rebuild per-sequence loss
    // boundaries. Empty turns occupy no sequence (the x97 contract).
    "x108_sft_packing" -> ((s, dir) => {
      val turns = TextAnalysis.chatLossMask(
          TextAnalysis.chatTurns(chatFixture(s, dir), "doc_id", "text"))
        .withColumn("unit_id", col("doc_id") * 100 + col("turn_idx"))
        .withColumn("shard", pmod(col("doc_id"), lit(8)).cast("int"))
      val packed = graft.ops.Packing.sequenceAssignments(
        turns.select(col("shard"), col("unit_id"), col("n_tokens")),
        "shard", "unit_id", "n_tokens", seqLen = 128L)
      packed.join(turns.select(col("unit_id"), col("role"),
          col("train_mask")), Seq("unit_id"))
        .select(col("unit_id"), col("shard"), col("role"),
          col("train_mask"), col("n_tokens"), col("offset"), col("seq_id"),
          col("doc_start"), col("start_in_seq"), col("n_toks"))
        .orderBy(col("unit_id"), col("seq_id"))
    }),

    // Bloom-filter decontamination screen vs the exact join (x102's
    // boolean-invariant convention): benchmark = every 20th doc planted
    // verbatim; the exact legs (string shingles) replay in DuckDB, the
    // Bloom screen's one-sided-error contract rides as booleans —
    // no_false_negative must hold PER DOC; fpp=1e-6 is sized for the
    // DOCUMENT (per-probe fpp compounds ~k x over a k-shingle doc — the
    // naive 0.01 flagged most of the corpus), so expected FP docs here
    // is ~clean*k*1e-6 ~ 0.05 and the bound is the small-n floor of 5
    "x107_bloom_decontamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 20 === 3).select(col("text"))
      val exact = TextAnalysis.contamination(docs, bench, "doc_id", "text",
        n = 3, hashed = false)
      val screened = TextAnalysis.contaminationBloom(docs, bench, "doc_id",
          "text", n = 3, fpp = 1e-6)
        .select(col("doc_id"), col("maybe_contaminated"))
      val joined = exact.join(screened, Seq("doc_id")).persist()
      val fp = joined.filter(col("maybe_contaminated") &&
        col("n_hits") === 0).count()
      val clean = joined.filter(col("n_hits") === 0).count()
      val fpOk = fp <= 5 && clean > 0
      joined
        .select(col("doc_id"), col("n_shingles"), col("n_hits"),
          col("contamination"),
          (col("maybe_contaminated") || col("n_hits") === 0)
            .as("no_false_negative"))
        .withColumn("fp_rate_bounded", lit(fpOk))
        .orderBy(col("doc_id"))
    }),

    // Exact-k-per-group deterministic sample: exactly 7 docs per source
    // (md5 ranking key -> the selection itself replays in DuckDB), on
    // the bounded-heap TopKPerGroup operator
    "x109_exact_k_sample" -> ((s, dir) =>
      graft.ops.Sampling.exactKPerGroup(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id", k = 7)
        .orderBy(col("source"), col("doc_id"))),

    // Exact token-budget prefix per source (mixture sampling, exact
    // form): 1000 tokens per source in md5 order, every row emitted
    // with its keep decision — budgets nest, the md5 order replays
    "x110_budget_prefix" -> ((s, dir) =>
      graft.ops.Sampling.budgetPrefixPerGroup(
          t(s, dir, "documents").select(col("doc_id"), col("source"),
            TextAnalysis.tokenCount(col("text")).cast("long")
              .as("token_cnt")),
          "source", "doc_id", "token_cnt", budget = 1000L)
        .select(col("doc_id"), col("source"), col("token_cnt"),
          col("cum_before"), col("kept"))
        .orderBy(col("doc_id"))),

    // C4-style blocklist filter: planted neutral badterms (every 9th doc
    // a token, every 15th a two-word phrase wedged mid-text) — token
    // matches are whole-token, phrase matches token-boundary-safe
    "x112_blocklist_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 9 === 0, lit(" graftbad graftbad"))
            .otherwise(lit("")),
          when(col("doc_id") % 15 === 0, lit(" graft worst case"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.blocklistFilter(docs, "text",
          Seq("graftbad", "graft worst", "absentterm", "absent pair"))
        .select(col("doc_id"), col("n_blocked_tokens"),
          col("n_blocked_phrases"), col("blocked"))
        .orderBy(col("doc_id"))
    }),

    // Gopher quality-rule bundle (Rae et al. App. A): planted rule
    // violators — bullet lists every 4th doc, ellipsis line endings
    // every 6th, symbol floods every 10th, numeric-token tails every
    // 7th — so every rule fires on a known subset
    "x113_gopher_rules" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val toks = TextAnalysis.tokens(col("text"))
      val docs = base.select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat_ws("\n",
            concat(lit("- "), concat_ws(" ", slice(toks, 1, 6))),
            concat(lit("- "), concat_ws(" ", slice(toks, 7, 6))),
            concat(lit("- "), concat_ws(" ", slice(toks, 13, 6)))))
        .when(col("doc_id") % 6 === 0,
          concat(col("text"), lit("...\nand more...\nthe end")))
        .when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" ### ## # … ....")))
        .when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" 111 222 333 444 555 666 777 888")))
        .otherwise(col("text")).as("text"))
      TextAnalysis.gopherQualityRules(docs, "text", minWords = 20)
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("symbol_ratio"), col("bullet_line_frac"),
          col("ellipsis_line_frac"), col("alpha_word_frac"),
          col("gopher_pass"))
        .orderBy(col("doc_id"))
    }),

    // Chat well-formedness validation over the x106 fixture: every 5th
    // doc's role-less preamble violates; short docs produce empty
    // assistant targets; the rest alternate cleanly after the leading
    // system turn
    "x114_chat_validate" -> ((s, dir) =>
      TextAnalysis.chatValidate(
          TextAnalysis.chatTurns(chatFixture(s, dir), "doc_id", "text"))
        .orderBy(col("doc_id"))),

    // Multimodal -> retrieval seam: media payloads through the batched
    // feature extractor (the x11 byte-histogram decode stub) straight
    // into the exact-kNN operator — media features are a first-class
    // citizen of the ANN stack, oracle-replaying the full decode ->
    // featurize -> cosine top-20 chain the way x09 does for embeddings
    "x105_media_knn" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val media = {
        import s.implicits._
        Multimodal.fromDocuments(t(s, dir, "documents"))
          .as[Multimodal.MediaRow]
      }
      val feats = Multimodal.extractFeatures(media, dim = 16).toDF()
        .select(col("media_id"), col("feature"))
      val q = feats.filter(col("media_id") === 0)
        .select(col("feature").as("qvec"))
      Similarity.bruteForceKnn(feats, q, "media_id", "feature", 20)
    }),

    // Product-quantization ADC search: planted codebooks = the first 8
    // embeddings sliced into 8 subspaces of 8 dims (the x65/x111
    // planted-centroid convention, so the full encode -> LUT -> ADC
    // chain replays in DuckDB). Corpus rows carry only the 8-int code;
    // the query's m*ks lookup table rides the broadcast side
    "x115_pq_adc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seed = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(transform(col("embedding"), x => x.cast("double")))
        .collect().map(_.getSeq[Double](0).toArray)
      val model = graft.ops.PQ.Model(
        Array.tabulate(8)(sub => seed.map(_.slice(sub * 8, sub * 8 + 8))))
      val codes = graft.ops.PQ
        .encode(emb.select(col("vec_id"), col("embedding")), "embedding", model)
        .select(col("vec_id"), col("pq_code"))
      val q = emb.filter(col("vec_id") === 0)
        .select(lit(0L).as("qid"), col("embedding").as("qvec"))
      graft.ops.PQ.searchAdc(codes, q, "vec_id", "qid", model, 20)
        .select(col("vec_id"), col("adc_dist"))
        .orderBy(col("adc_dist"), col("vec_id"))
    }),

    // DSIR importance weighting (Xie et al. 2023): even docs carry the
    // planted target markers, odd docs a disjoint tail; the target
    // corpus = the even docs, so target-like docs must score higher.
    // Both hashed-n-gram distributions reduce to 256 driver doubles and
    // scoring is map-only — the oracle replays distributions AND the
    // per-doc fold through the same md5 % 256 feature hash x88 pinned
    "x116_dsir_selection" -> ((s, dir) => {
      val raw = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0, lit(" tgtmark alpha tgtmark"))
            .otherwise(lit(" rawmark beta rawmark"))).as("text"))
      val target = raw.filter(col("doc_id") % 2 === 0)
      TextAnalysis.dsirImportance(raw, target, "text",
          buckets = 256, alpha = 0.01, useBigrams = true)
        .select(col("doc_id"), col("n_features").cast("long").as("n_features"),
          col("log_weight"))
        .orderBy(col("doc_id"))
    }),

    // Stupid-backoff trigram LM (Brants 2007): model = the corpus, scored
    // docs = last-token-rotated copies (+ an unseen tail every 5th doc) so
    // all three cascade tiers fire — seam trigrams back off to bigram/
    // unigram tiers, the zzqx tail hits the OOV smoothing floor
    "x117_stupid_backoff" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val toks = TextAnalysis.tokens(lower(col("text")))
      val mutated = base.select(col("doc_id"),
        concat_ws(" ", element_at(toks, -1), col("text"),
          when(col("doc_id") % 5 === 0, lit("zzqx zzqy"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.stupidBackoffNll(base, mutated, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Character-entropy gibberish filter: every 7th doc replaced with a
    // single-character flood that must trip the low-entropy flag; the
    // metric is one codegen'd per-row loop (no explode) — the oracle
    // affords the explode+groupBy formulation
    "x118_char_entropy" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(lit("spam "), repeat(lit("a"), 60)))
          .otherwise(col("text")).as("text"))
      TextAnalysis.charEntropyProfile(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_chars"), col("char_entropy"),
          col("low_entropy"))
        .orderBy(col("doc_id"))
    }),

    // MMR diversity rerank: top-20 exact retrieval (query = vec 0,
    // excluded from candidates) joined back to its vectors, then the
    // greedy lambda=0.75 selection — dyadic lambda so the arithmetic is
    // exact in binary and DuckDB's unrolled 5-stage CTE replays the
    // greedy trace bit-for-bit
    "x119_mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      val knn = Similarity.bruteForceKnn(emb.filter(col("vec_id") =!= 0),
        q, "vec_id", "embedding", 20)
      val cands = knn.join(emb.select(col("vec_id"), col("embedding")),
        Seq("vec_id"))
      Similarity.mmrSelect(cands, "vec_id", "cosine_sim", "embedding",
          k = 5, lambda = 0.75)
        .orderBy(col("mmr_rank"))
    }),

    // IVFADC (the composed FAISS architecture): planted coarse centroids
    // AND planted PQ codebooks (both = the first 8 embeddings, the x115
    // convention), so coarse assignment (raw cosine, ties -> highest
    // cid), probe selection (raw cosine, ties -> lowest cid), PQ encode,
    // and ADC scoring ALL replay in DuckDB — the first oracle-checked
    // IVF search path (x15/x27's trained centroids are rows-only)
    "x120_ivfadc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seed = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(transform(col("embedding"), x => x.cast("double")))
        .collect().map(_.getSeq[Double](0).toArray)
      val pq = graft.ops.PQ.Model(
        Array.tabulate(8)(sub => seed.map(_.slice(sub * 8, sub * 8 + 8))))
      val coarse = IVF.Model(seed)
      val codes = graft.ops.PQ.encode(
          IVF.assign(emb.select(col("vec_id"), col("embedding")),
            "embedding", coarse), "embedding", pq)
        .select(col("vec_id"), col("centroid_id"), col("pq_code"))
      val q = emb.filter(col("vec_id") === 42)
        .select(lit(42L).as("qid"), col("embedding").as("qvec"))
      graft.ops.PQ.searchIvfAdc(codes, q, "vec_id", "qid", coarse, pq,
          k = 10, nprobe = 3)
        .select(col("vec_id"), col("adc_dist"))
        .orderBy(col("adc_dist"), col("vec_id"))
    }),

    // Tokenizer-fertility report: per language, subwords-per-word and
    // bytes-per-subword — the budgeting readout for how a tokenizer's
    // load varies across languages (fertility >> 1 languages dominate
    // sequence budgets). One map-side projection into one group
    // aggregate; subwordCount is the x14 RE2-compatible proxy
    "x121_fertility" -> ((s, dir) =>
      t(s, dir, "documents").select(col("lang"),
          octet_length(col("text")).cast("long").as("b"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("w"),
          TextAnalysis.subwordCount(col("text")).cast("long").as("sw"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("b")).as("total_bytes"),
          sum(col("w")).as("total_words"),
          sum(col("sw")).as("total_subwords"),
          round(sum(col("sw")).cast("double") / sum(col("w")), 6)
            .as("fertility"),
          round(sum(col("b")).cast("double") / sum(col("sw")), 6)
            .as("bytes_per_subword"))
        .orderBy(col("lang"))),

    // PQ two-stage retrieval: ADC shortlist (top-40 on codes only) then
    // exact cosine re-rank to top-20 — the recipe that recovers the
    // recall compression gives up; both stages replay in DuckDB over the
    // x115 planted codebooks
    "x122_pq_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seed = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(transform(col("embedding"), x => x.cast("double")))
        .collect().map(_.getSeq[Double](0).toArray)
      val model = graft.ops.PQ.Model(
        Array.tabulate(8)(sub => seed.map(_.slice(sub * 8, sub * 8 + 8))))
      val vectors = emb.select(col("vec_id"), col("embedding"))
      val codes = graft.ops.PQ.encode(vectors, "embedding", model)
        .select(col("vec_id"), col("pq_code"))
      val q = emb.filter(col("vec_id") === 7)
        .select(lit(7L).as("qid"), col("embedding").as("qvec"))
      graft.ops.PQ.searchAdcRerank(codes, vectors, q, "vec_id", "qid",
          "embedding", model, k = 20, rerank = 2)
        .select(col("vec_id"), col("cosine_sim"))
        .orderBy(col("cosine_sim").desc, col("vec_id"))
    }),

    // Residual IVFADC (Jegou §III.B — the textbook formulation): codes
    // quantize v - coarse[assigned], each (query, probed list) pair gets
    // its own LUT against that list's centroid; planted coarse centroids
    // AND codebooks keep the whole chain DuckDB-replayable
    "x123_ivfadc_residual" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seed = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(transform(col("embedding"), x => x.cast("double")))
        .collect().map(_.getSeq[Double](0).toArray)
      val pq = graft.ops.PQ.Model(
        Array.tabulate(8)(sub => seed.map(_.slice(sub * 8, sub * 8 + 8))))
      val coarse = IVF.Model(seed)
      val codes = graft.ops.PQ.encodeResidual(
          IVF.assign(emb.select(col("vec_id"), col("embedding")),
            "embedding", coarse), "embedding", coarse, pq)
        .select(col("vec_id"), col("centroid_id"), col("pq_code"))
      val q = emb.filter(col("vec_id") === 42)
        .select(lit(42L).as("qid"), col("embedding").as("qvec"))
      graft.ops.PQ.searchIvfAdcResidual(codes, q, "vec_id", "qid", coarse,
          pq, k = 10, nprobe = 3)
        .select(col("vec_id"), col("adc_dist"))
        .orderBy(col("adc_dist"), col("vec_id"))
    }),

    // Count-min sketch point-frequency estimates: sketch built in one
    // corpus pass (4 x 1024 driver longs, md5-portable hashing), probe
    // set = the distinct tokens of docs 0-2, exact counts joined
    // alongside so the overcount-only property is VISIBLE in the output
    // (est >= exact always; both engines compute identical cells)
    "x124_count_min" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(explode(TextAnalysis.tokens(lower(col("text"))))
        .as("tok"))
      val sk = graft.ops.CountMin.build(toks, "tok", depth = 4, width = 1024)
      val probe = docs.filter(col("doc_id") < 3)
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
        .distinct()
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
      probe.join(exact, Seq("tok"))
        .withColumn("est_cnt", graft.ops.CountMin.estimateExpr(col("tok"), sk))
        .select(col("tok"), col("exact_cnt"), col("est_cnt"))
        .orderBy(col("tok"))
    }),

    // N-gram novelty vs a reference corpus (synthetic-data QA): docs =
    // the corpus with a planted novel tail every 4th doc; reference =
    // the unmodified corpus — tailed docs must show nonzero novelty,
    // untouched docs exactly 0
    "x125_ngram_novelty" -> ((s, dir) => {
      val ref = t(s, dir, "documents")
      val docs = ref.select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit(" novelx novely novelz")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.ngramNovelty(docs, ref, "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }),

    // Langid confusion matrix — the detector-quality readout for the
    // routing stage (x87's methodology applied to language ID): per
    // (true, predicted) pair counts and the per-true-language fraction,
    // so systematic confusions (and the unknown-rate per language) are
    // one table, not a buried scalar accuracy
    "x126_langid_confusion" -> ((s, dir) => {
      val scored = TextAnalysis.languageId(t(s, dir, "documents"))
        .select(col("lang").as("true_lang"),
          col("predicted_lang").as("pred_lang"))
      val cells = scored.groupBy(col("true_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
      val totals = cells.groupBy(col("true_lang"))
        .agg(sum(col("n_docs")).as("__tot"))
      cells.join(totals, Seq("true_lang"))
        .withColumn("frac",
          round(col("n_docs").cast("double") / col("__tot"), 6))
        .select(col("true_lang"), col("pred_lang"), col("n_docs"), col("frac"))
        .orderBy(col("true_lang"), col("pred_lang"))
    }),

    // PQ recall-recovery eval: recall@10 of plain ADC vs ADC + exact
    // re-rank against the exact baseline, per query — the compression
    // trade AND its two-stage recovery in one driver artifact (the x84
    // recall-eval methodology applied to the PQ stack)
    "x127_adc_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seed = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(transform(col("embedding"), x => x.cast("double")))
        .collect().map(_.getSeq[Double](0).toArray)
      val model = graft.ops.PQ.Model(
        Array.tabulate(8)(sub => seed.map(_.slice(sub * 8, sub * 8 + 8))))
      val vectors = emb.select(col("vec_id"), col("embedding"))
      val codes = graft.ops.PQ.encode(vectors, "embedding", model)
        .select(col("vec_id"), col("pq_code"))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceKnnBatch(emb, q,
        "vec_id", "embedding", "query_id", 10)
      val adc = graft.ops.PQ.searchAdc(codes, q, "vec_id", "query_id",
        model, 10)
      val rr = graft.ops.PQ.searchAdcRerank(codes, vectors, q, "vec_id",
        "query_id", "embedding", model, k = 10, rerank = 4)
      Similarity.recallAtK(adc, exact, "query_id", "vec_id")
        .withColumn("path", lit("adc"))
        .unionByName(Similarity.recallAtK(rr, exact, "query_id", "vec_id")
          .withColumn("path", lit("adc_rerank")))
        .select(col("path"), col("query_id"), col("n_exact"),
          col("n_hit"), col("recall"))
        .orderBy(col("path"), col("query_id"))
    }),

    // Binary (sign) quantization retrieval — the compression tier below
    // x61's int8: 63-bit sign-packed codes, whole-corpus Hamming ranking
    // (popcount over xor'd longs), exact cosine re-rank of the shortlist.
    // No hash family anywhere, so the oracle replays EVERYTHING —
    // packing (1::BIGINT << b), Hamming, tie-breaks, re-rank — from the
    // embedding values alone; `hamming` rides the output so the
    // approximate stage is itself checked, not just its survivors.
    "x130_binary_quant_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id").isin(0L, 7L, 13L))
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.knnBinaryRerank(emb, queries, "vec_id", "embedding",
          "query_id", k = 8, rerank = 4)
        .orderBy(col("query_id"), col("vec_id"))
    }),

    // DoReMi domain reweighting (Xie et al. '23): excess loss under the
    // unigram proxy collapses to KL(domain || corpus), so every term —
    // token counts, KL, the exp-multiplicative update, uniform smoothing
    // — replays in DuckDB. Domains = the source column; eta=2 spreads
    // the planted per-source drift into visibly distinct weights, and
    // the weights must sum to 1 across the 8 sources by construction.
    "x131_doremi_weights" -> ((s, dir) =>
      TextAnalysis.doremiWeights(t(s, dir, "documents"), "source", "text",
          eta = 2.0, smoothing = 0.01)
        .orderBy(col("domain"))),

    // Unigram-LM (SentencePiece) tokenizer inference: every corpus word
    // Viterbi-segmented against the planted dyadic-score vocabulary —
    // map-only codegen'd DP, vocab as plan state. The oracle unrolls the
    // SAME DP into chained SQL CTEs from the SAME vocab value, so piece
    // choices, tie-breaks, per-doc logp and the `+`-joined trace all
    // replay exactly (dyadic scores: sums are order-exact in binary64).
    "x132_unigram_segment" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        array_join(filter(TextAnalysis.tokens(lower(col("text"))),
          w => length(w) <= 16), " ").as("text"))
      TextAnalysis.unigramSegment(docs, "doc_id", "text", uniVocab)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          col("n_pieces"), col("logp"), col("segm"))
        .orderBy(col("doc_id"))
    }),

    // Margin-based bitext mining (Artetxe & Schwenk ratio margin +
    // mutual best match) — sides are the embedding table split by id
    // parity. Fully value-replayed: cosine round6, top-4 neighborhood
    // means exact in integer micro-unit space (mean6Exact — means of
    // 6dp values sit on round-boundary halves), margin division over
    // round6 inputs, mutual argmax ties to the lowest partner id.
    "x133_bitext_margin" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bitextMarginMine(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", k = 4, minMargin = 1.0)
        .orderBy(col("src_id"))
    }),

    // Cluster-balanced diversity sample: portable-trainer k-means
    // strata, ≤10 md5-ranked picks per cluster, cluster_size audit
    // column. The selection itself is oracle-replayed (x15's Lloyd
    // CTEs + the x109 md5 rank window).
    "x134_cluster_sample" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = IVF.trainPortable(emb, "vec_id", "embedding",
        nc = 8, iters = 2)
      graft.ops.Sampling.clusterBalancedSample(emb, "vec_id", "embedding",
          model, k = 10)
        .orderBy(col("centroid_id"), col("vec_id"))
    }),

    // Reliability bins over the TRAINED hashed-logreg gate (the x88/x90
    // loop closed into a calibration readout): 10 equal-width
    // confidence bins, per-bin mean predicted probability vs empirical
    // positive rate, integer-exact half-up means (mean6Exact).
    "x135_calibration_bins" -> ((s, dir) => {
      val fix = logRegFixture(t(s, dir, "documents"))
      val m = TextAnalysis.trainHashedLogReg(fix, "text", "y",
        buckets = 64, epochs = 3, lr = 0.5, useBigrams = false)
      val scored = TextAnalysis.hashedLinearScore(
          fix.select(col("doc_id"), col("text")),
          "doc_id", "text", m.weights, bias = m.bias, useBigrams = false)
        .join(fix.select(col("doc_id"), col("y")), Seq("doc_id"))
      TextAnalysis.calibrationBins(scored, "score", "y", bins = 10)
        .orderBy(col("bin"))
    }),

    // Streaming decontamination made driver-visible (the stream ≡ batch
    // seam as a CORRECTNESS row, not only a spec): the documents table
    // rides a file-based readStream (3 parquet files, maxFilesPerTrigger=1
    // -> at least 3 micro-batches; no driver-side feed) through
    // bloomScreenSink, then the persisted clean/quarantine outputs are
    // read back and judged against the EXACT batch contamination. Row
    // routing is map-only per row, so output is micro-batch-split
    // invariant. The bloom's false-positive side isn't cross-engine
    // replayable (xxhash64 bits) — the oracle-checked columns are the
    // exact shingle hits plus the booleans the screen guarantees:
    // one-sided error (contaminated docs never reach clean) and
    // exactly-once routing across the two sinks.
    "x128_stream_bloom_screen" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_sbloom", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 20 === 3).select(col("text"))
      val bloom = TextAnalysis.benchmarkBloom(bench, "text", n = 3, fpp = 1e-6)
      docs.repartition(3).write.parquet(s"$root/in")
      val feed = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      graft.streaming.EventStreams.withStatePartitions(s, 8) {
        val sq = graft.streaming.EventStreams.bloomScreenSink(feed, "doc_id",
          "text", bloom, 3, s"$root/clean", s"$root/quarantine", s"$root/ckpt")
        try sq.processAllAvailable() finally sq.stop()
      }
      def side(p: String, name: String): DataFrame =
        s.read.parquet(p).select(col("doc_id"), lit(name).as("__side"))
      val routed = side(s"$root/clean", "clean")
        .unionByName(side(s"$root/quarantine", "quarantine"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("__n"),
          max((col("__side") === "quarantine").cast("int")).as("__q"))
      TextAnalysis.contamination(docs, bench, "doc_id", "text",
          n = 3, hashed = false)
        .join(routed, Seq("doc_id"))
        .select(col("doc_id"), col("n_shingles").cast("long").as("n_shingles"),
          col("n_hits").cast("long").as("n_hits"),
          (col("__q") === 1 || col("n_hits") === 0).as("no_false_negative"),
          (col("__n") === 1).as("routed_exactly_once"))
        .orderBy(col("doc_id"))
    }),

    // Streaming corpus-frequency monitoring made driver-visible, with a
    // FULL value-level oracle: the documents table streams through
    // cmsMonitorSink in ≥3 micro-batches (file source, no driver feed),
    // each batch merging its shard count-min sketch into the persisted
    // store; the final store is then probed exactly like x124. CMS
    // addition commutes cell-wise over integers, so the streamed
    // read-merge-write store equals the one-shot batch sketch EXACTLY —
    // the DuckDB oracle replays the md5 cell formula over the whole
    // corpus and must match the streamed store value-for-value.
    "x129_stream_cms_monitor" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_scms", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      docs.repartition(3).write.parquet(s"$root/in")
      val feed = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      graft.streaming.EventStreams.withStatePartitions(s, 8) {
        val sq = graft.streaming.EventStreams.cmsMonitorSink(feed, "text",
          s"$root/store", s"$root/ckpt", depth = 4, width = 1024)
        try sq.processAllAvailable() finally sq.stop()
      }
      val sk = graft.ops.CountMin.read(s, s"$root/store")
      val toks = docs.select(explode(TextAnalysis.tokens(lower(col("text"))))
        .as("tok"))
      val probe = docs.filter(col("doc_id") < 3)
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
        .distinct()
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
      probe.join(exact, Seq("tok"))
        .withColumn("est_cnt", graft.ops.CountMin.estimateExpr(col("tok"), sk))
        .select(col("tok"), col("exact_cnt"), col("est_cnt"))
        .orderBy(col("tok"))
    }),

    // HyperLogLog distinct-token cardinality per source — the
    // distinct-count member of the sketch family (CMS = frequency,
    // Misra-Gries = heavy hitters), fully distributed: registers are a
    // (source, bucket)-keyed max aggregate (≤ sources×1024 rows after
    // map-side partials), estimation reads only those rows. The md5
    // register contract makes every register and estimate replay
    // bit-for-bit in DuckDB; exact distinct rides along as the accuracy
    // readout (HLL stderr ~3.3% at p=10).
    "x136_hll_cardinality" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      val est = graft.ops.Hll.estimate(
        graft.ops.Hll.registers(toks, "tok", Seq("source")), Seq("source"))
      val exact = toks.groupBy(col("source"))
        .agg(countDistinct(col("tok")).as("exact_distinct"))
      est.join(exact, Seq("source"))
        .select(col("source"), col("n_registers"), col("est"),
          col("exact_distinct"))
        .orderBy(col("source"))
    }),

    // The HLL persisted-store seam, value-level: even docs build the
    // store, odd docs ingest as a shard (read -> max-merge -> swap), and
    // because register max-merge is exact the final store EQUALS the
    // full-corpus registers — which is what the oracle replays (register
    // checksum pins the state itself, not just the estimate). Max-merge
    // is also idempotent, so the query re-ingests the odd shard a second
    // time and asserts the store is unchanged (the re-delivery safety the
    // additive CMS store does not have).
    "x137_hll_store_ingest" -> ((s, dir) => {
      import s.implicits._
      val root = ParityQueries.tmpPath("graft_hll", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val docs = t(s, dir, "documents")
      def toksOf(d: DataFrame): DataFrame =
        d.select(explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      val even = graft.ops.Hll.build(
        toksOf(docs.filter(col("doc_id") % 2 === 0)), "tok")
      graft.ops.Hll.write(s, even, s"$root/store")
      val odd = graft.ops.Hll.build(
        toksOf(docs.filter(col("doc_id") % 2 === 1)), "tok")
      val merged = graft.ops.Hll.ingest(s, s"$root/store", odd)
      val replay = graft.ops.Hll.ingest(s, s"$root/store", odd)
      val back = graft.ops.Hll.read(s, s"$root/store")
      require(replay.regs.sameElements(merged.regs) &&
        back.regs.sameElements(merged.regs), "re-ingest must be a no-op")
      val exact = toksOf(docs)
        .agg(countDistinct(col("tok"))).collect()(0).getLong(0)
      val regSum = back.regs.zipWithIndex
        .map { case (r, b) => (b.toLong + 1L) * r }.sum
      Seq((back.regs.count(_ != 0).toLong, regSum, back.estimate, exact))
        .toDF("n_registers", "reg_checksum", "est", "exact_distinct")
    }),

    // Per-source length percentiles from the mergeable quantile sketch —
    // the distribution readout (pre-tokenization length audit) whose
    // exact form is a per-group sort. Sources here are <= k rows, so no
    // compaction fires and every quantile is the EXACT lower quantile
    // (smallest value with cumulative weight >= ceil(p*n)) — the
    // Misra-Gries exact-regime oracle discipline; the over-capacity
    // error envelope is spec-pinned.
    "x138_kll_quantiles" -> ((s, dir) => {
      graft.ops.Kll.quantiles(t(s, dir, "documents"), "n_chars",
          Seq("source"), probs = Seq(0.1, 0.5, 0.9, 0.99), k = 256)
        .orderBy(col("source"), col("p"))
    }),

    // WordPiece (BERT) tokenizer inference — greedy longest-match-first
    // with ##-continuations against the planted wpVocab (x132's pieces
    // in both forms, minus ##z so the whole-word-[UNK] rule fires on
    // real corpus words). Same map-only codegen'd-projection shape as
    // x132; the oracle unrolls the greedy loop step for step.
    "x139_wordpiece_segment" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        array_join(filter(TextAnalysis.tokens(lower(col("text"))),
          w => length(w) <= 16), " ").as("text"))
      TextAnalysis.wordpieceSegment(docs, "doc_id", "text", wpVocab)
        .select(col("doc_id"), col("n_tokens"), col("n_unk"),
          col("n_pieces"), col("segm"))
        .orderBy(col("doc_id"))
    }),

    // Aho-Corasick blocklist scale path over x112's exact fixture — one
    // automaton scan per document replaces the O(terms) contains-chain,
    // match semantics pinned identical (the oracle IS x112's replay).
    // The big-list advantage is spec- and smoke-measured; this row pins
    // the semantics seam driver-visibly.
    "x140_blocklist_scaled" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 9 === 0, lit(" graftbad graftbad"))
            .otherwise(lit("")),
          when(col("doc_id") % 15 === 0, lit(" graft worst case"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.blocklistFilterScaled(docs, "text",
          Seq("graftbad", "graft worst", "absentterm", "absent pair"))
        .select(col("doc_id"), col("n_blocked_tokens"),
          col("n_blocked_phrases"), col("blocked"))
        .orderBy(col("doc_id"))
    }),

    // Interpolated Kneser-Ney bigram LM (the smoothing KenLM ships) over
    // the corpus's own counts: scored docs are last-token-rotated copies
    // (+ an unseen zzqx tail every 5th doc) so all four probability legs
    // fire — discounted seen bigrams, seen-context/unseen-continuation
    // (the redistributed lambda mass), OOV continuations on the add-k
    // floor, and OOV contexts backing off to pure continuation
    // probability
    "x141_kneser_ney" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val toks = TextAnalysis.tokens(lower(col("text")))
      val mutated = base.select(col("doc_id"),
        concat_ws(" ", element_at(toks, -1), col("text"),
          when(col("doc_id") % 5 === 0, lit("zzqx zzqy"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.knBigramNll(base, mutated, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Edit-distance near-dup pairs (FastSS deletion neighborhoods) over
    // short keys — each doc's first-3-token title; every 4th doc adds a
    // one-char-deleted copy at id+100000 so distance-1 pairs exist by
    // construction, alongside the table's natural distance-0 title
    // collisions. The deletion-neighborhood candidate stage is recall-
    // COMPLETE for ed<=1 (pigeonhole), which is exactly why the naive
    // all-pairs levenshtein scan is a valid value-for-value oracle for
    // the blocked plan.
    "x142_edit_distance" -> ((s, dir) => {
      val titles = t(s, dir, "documents").select(col("doc_id").as("id"),
        array_join(slice(TextAnalysis.tokens(col("text")), 1, 3), " ")
          .as("title"))
      val mutated = titles.filter(col("id") % 4 === 0)
        .select((col("id") + 100000).as("id"),
          concat(substring(col("title"), 1, 2),
            substring(col("title"), 4, 100000)).as("title"))
      Dedup.editDistancePairs(titles.union(mutated), "id", "title",
          maxDist = 1)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Sentence-level BLEU of candidate vs reference — the synthetic-data
    // closeness readout: ref = first 24 tokens; cand = first 20 + first
    // 6 again (repeated grams overrun the reference's counts, so the
    // CLIP binds), every 3rd doc a 10-token candidate instead (brevity
    // penalty < 1). The clipped counts come from one native map-only
    // expression pass; the oracle explodes both sides per order.
    "x143_bleu_score" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(lower(col("text")))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, array_join(slice(toks, 1, 10), " "))
          .otherwise(concat_ws(" ", array_join(slice(toks, 1, 20), " "),
            array_join(slice(toks, 1, 6), " "))).as("cand"),
        array_join(slice(toks, 1, 24), " ").as("ref"))
      TextAnalysis.bleuScore(docs, "cand", "ref")
        .select(col("doc_id"), col("cand_len"), col("ref_len"),
          col("p1"), col("p2"), col("p3"), col("p4"),
          col("brevity"), col("bleu"))
        .orderBy(col("doc_id"))
    }),

    // Watermarked event-time windowed aggregation — the Structured
    // Streaming OPERATOR (not just a sink) made driver-visible: events
    // stream through windowedCounts in chronological micro-batches
    // (time-ordered file appends, so the advancing watermark never
    // drops a late row and streamed ≡ batch exactly) into an
    // APPEND-MODE parquet sink; two far-future sentinel batches push
    // the watermark past every real window so ALL of them finalize and
    // flush. The persisted sink content — each window emitted exactly
    // once, by the append contract — is what the oracle replays as a
    // plain batch GROUP BY. Value sums ride decimal(18,2) (the
    // q18/q19 convention) so streamed state-merge order can't smear
    // doubles.
    "x144_stream_windowed" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_swin", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      // watermarks require TIMESTAMP (not NTZ); the UTC session makes
      // the cast an identity on the wall-clock value, and the readback
      // casts the window bounds back to NTZ for the naive-ts oracle
      val ev = t(s, dir, "events").select(
        col("ts").cast("timestamp").as("ts"), col("event_type"),
        col("value").cast("decimal(18,2)").as("value"))
      val b = ev.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx")).head()
      // the ts column may surface as java.sql.Timestamp, Instant, or
      // LocalDateTime (TIMESTAMP_NTZ under the java8 datetime API) —
      // build boundary/sentinel literals of the SAME runtime class so
      // comparisons and the parquet schema stay homogeneous
      def ms(a: Any): Long = a match {
        case t: java.sql.Timestamp => t.getTime
        case i: java.time.Instant => i.toEpochMilli
        case l: java.time.LocalDateTime =>
          l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      }
      def tsLit(m: Long): org.apache.spark.sql.Column = lit(b.get(0) match {
        case _: java.time.LocalDateTime => java.time.LocalDateTime.ofInstant(
          java.time.Instant.ofEpochMilli(m), java.time.ZoneOffset.UTC)
        case _: java.time.Instant => java.time.Instant.ofEpochMilli(m)
        case _ => new java.sql.Timestamp(m)
      })
      val mn = ms(b.get(0)); val mx = ms(b.get(1))
      val (t1, t2) = (tsLit(mn + 10L * 86400 * 1000),
        tsLit(mn + 20L * 86400 * 1000))
      // chronological thirds appended sequentially: FileStreamSource
      // orders by modification time, so batch order = event-time order
      ev.filter(col("ts") < t1).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      ev.filter(col("ts") >= t1 && col("ts") < t2).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      ev.filter(col("ts") >= t2).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      def sentinel(hrs: Long) = ev.limit(1).select(
        tsLit(mx + hrs * 3600 * 1000).as("ts"),
        lit("zzzsentinel").as("event_type"), col("value"))
      sentinel(1000).coalesce(1).write.mode("append").parquet(s"$root/in")
      sentinel(2000).coalesce(1).write.mode("append").parquet(s"$root/in")
      val feed = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val counts = graft.streaming.EventStreams.windowedCounts(feed,
        watermark = "10 minutes", windowDur = "1 hour")
      graft.streaming.EventStreams.withStatePartitions(s, 8) {
        val sq = graft.streaming.EventStreams.startParquetSink(counts,
          s"$root/out", s"$root/ckpt")
        try sq.processAllAvailable() finally sq.stop()
      }
      s.read.parquet(s"$root/out")
        .filter(col("event_type") =!= "zzzsentinel")
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("window_end").cast("timestamp_ntz").as("window_end"),
          col("event_type"), col("n_events"),
          col("total_value").cast("double").as("total_value"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // Distributed embedding moments (mean vector + sample covariance,
    // the whitening/PCA statistical core) over the first 8 dimensions:
    // decimal-exact sums, 6dp moments, covariance derived from the
    // rounded moments — every cell value-replayed in DuckDB
    "x145_embedding_moments" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(slice(col("embedding"), 1, 8).as("v"))
      Similarity.embeddingMoments(emb, "v")
        .orderBy(col("i"), col("j"))
    }),

    // Streamed sessionization (flatMapGroupsWithState + event-time
    // timeout — the CUSTOM-state stateful operator, where x144 covered
    // the built-in windowed agg): events ride chronological micro-
    // batches through sessionize; sentinel batches (user -1, filtered
    // on readback) advance the watermark past every real session's
    // timeout so open sessions flush through the hasTimedOut leg. The
    // oracle is the batch gaps-and-islands formulation. The stream
    // reconstructs session bounds at MILLISECOND precision (state holds
    // epoch ms), so the oracle truncates ts to ms; total_value rounds
    // to the 2dp grid its decimal-quantized inputs live on, which
    // canonicalizes any 1-ulp summation-order noise.
    "x146_stream_sessionize" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_ssess", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val ev = t(s, dir, "events").select(col("event_id"),
        col("ts").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"),
        col("value").cast("decimal(18,2)").cast("double").as("value"))
      val b = ev.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx")).head()
      def ms(a: Any): Long = a match {
        case t: java.sql.Timestamp => t.getTime
        case i: java.time.Instant => i.toEpochMilli
        case l: java.time.LocalDateTime =>
          l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      }
      def tsLit(m: Long): org.apache.spark.sql.Column = lit(b.get(0) match {
        case _: java.time.LocalDateTime => java.time.LocalDateTime.ofInstant(
          java.time.Instant.ofEpochMilli(m), java.time.ZoneOffset.UTC)
        case _: java.time.Instant => java.time.Instant.ofEpochMilli(m)
        case _ => new java.sql.Timestamp(m)
      })
      val mn = ms(b.get(0)); val mx = ms(b.get(1))
      val (t1, t2) = (tsLit(mn + 10L * 86400 * 1000),
        tsLit(mn + 20L * 86400 * 1000))
      ev.filter(col("ts") < t1).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      ev.filter(col("ts") >= t1 && col("ts") < t2).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      ev.filter(col("ts") >= t2).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      def sentinel(hrs: Long) = ev.limit(1).select(lit(-1L).as("event_id"),
        tsLit(mx + hrs * 3600 * 1000).as("ts"), lit(-1L).as("user_id"),
        lit("zzzsentinel").as("event_type"), lit(0.0).as("value"))
      sentinel(1000).coalesce(1).write.mode("append").parquet(s"$root/in")
      sentinel(2000).coalesce(1).write.mode("append").parquet(s"$root/in")
      import s.implicits._
      val feed = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .as[graft.streaming.EventStreams.Event]
      val sess = graft.streaming.EventStreams.sessionize(feed,
        gapMs = 30 * 60 * 1000L)(s)
      graft.streaming.EventStreams.withStatePartitions(s, 8) {
        val sq = graft.streaming.EventStreams.startParquetSink(sess.toDF(),
          s"$root/out", s"$root/ckpt")
        try sq.processAllAvailable() finally sq.stop()
      }
      s.read.parquet(s"$root/out")
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"),
          col("n_events"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // Streamed stream-stream interval join — the third stateful
    // streaming operator class (x144 = built-in windowed agg, x146 =
    // custom flatMapGroupsWithState): purchases join same-user errors
    // from the preceding hour, both sides watermarked so join state
    // expires. INNER time-bound joins emit each pair exactly once as
    // soon as both sides arrive — no sentinel batches needed — and the
    // chronological feed means state retention (derived by Spark from
    // the time-range condition) never evicts a row that could still
    // match. Timestamps pass through unmutated (microsecond precision
    // preserved), so the oracle is the plain batch self-join.
    "x147_stream_interval_join" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_sjoin", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val ev = t(s, dir, "events").select(col("event_id"),
        col("ts").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"))
      val b = ev.agg(min(col("ts")).as("mn")).head()
      def ms(a: Any): Long = a match {
        case t: java.sql.Timestamp => t.getTime
        case i: java.time.Instant => i.toEpochMilli
        case l: java.time.LocalDateTime =>
          l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      }
      def tsLit(m: Long): org.apache.spark.sql.Column = lit(b.get(0) match {
        case _: java.time.LocalDateTime => java.time.LocalDateTime.ofInstant(
          java.time.Instant.ofEpochMilli(m), java.time.ZoneOffset.UTC)
        case _: java.time.Instant => java.time.Instant.ofEpochMilli(m)
        case _ => new java.sql.Timestamp(m)
      })
      val mn = ms(b.get(0))
      val (t1, t2) = (tsLit(mn + 10L * 86400 * 1000),
        tsLit(mn + 20L * 86400 * 1000))
      ev.filter(col("ts") < t1).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      ev.filter(col("ts") >= t1 && col("ts") < t2).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      ev.filter(col("ts") >= t2).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      val feed = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val joined = graft.streaming.EventStreams.purchaseErrorJoin(feed,
        watermark = "10 minutes", windowSec = 3600L)
      graft.streaming.EventStreams.withStatePartitions(s, 8) {
        val sq = graft.streaming.EventStreams.startParquetSink(joined,
          s"$root/out", s"$root/ckpt")
        try sq.processAllAvailable() finally sq.stop()
      }
      s.read.parquet(s"$root/out")
        .select(col("purchase_id"), col("user_id"),
          col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
          col("error_id"),
          col("error_ts").cast("timestamp_ntz").as("error_ts"))
        .orderBy(col("purchase_id"), col("error_id"))
    }),

    // ColBERT late-interaction MaxSim top-20: each 64-dim embedding
    // reshaped to 8 token-vectors x 8 dims (the token-level frame a
    // real ColBERT index stores); query = vec 0's tokens on a broadcast,
    // corpus tokens scanned once through two doc-keyed aggregates.
    // Cosines 6dp, per-doc sum decimal-exact — fully value-replayed.
    "x148_maxsim_rerank" -> ((s, dir) => {
      val toks = t(s, dir, "embeddings").select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(7)), kk =>
          slice(col("embedding"), kk * 8 + 1, lit(8))))
          .as(Seq("tok_id", "tvec")))
      val q = toks.filter(col("vec_id") === 0)
        .select(col("tok_id").as("q_tok"), col("tvec"))
      Similarity.maxSimTopK(toks.filter(col("vec_id") =!= 0), q,
          "vec_id", "q_tok", "tvec", k = 20)
    }),

    // Z-order (Morton) layout quality over (user_id, floor(value)):
    // 64 contiguous z-range buckets — one per would-be output file —
    // each reporting the per-dimension min/max a parquet reader prunes
    // on. The interleave is pure integer shift/mask column arithmetic
    // (min/max scalars on a broadcast), replayed bit-for-bit in SQL.
    "x149_zorder_layout" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        floor(col("value")).cast("long").as("val_i"))
      graft.ops.Layout.zBucketStats(ev, "user_id", "val_i", bucketBits = 6)
        .orderBy(col("bucket"))
    }),

    // Graded NDCG@10 + MRR of JL-projected retrieval vs the exact
    // ranking — the rank-quality readout recall@k (x84) can't give:
    // where the good results LANDED, not just whether they showed up.
    // Judged pool = exact top-10 with cosine relevance; discounts are
    // the identical JVM double literals in both plans.
    "x150_ndcg_eval" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceKnnBatch(emb, q,
        "vec_id", "embedding", "query_id", 10)
      val projCorpus = Similarity.projectRandom(emb, "embedding", 64, 16)
      val projQ = Similarity.projectRandom(q, "qvec", 64, 16)
        .select(col("query_id"), col("projected").as("qvec"))
      val approx = Similarity.bruteForceKnnBatch(projCorpus, projQ,
        "vec_id", "projected", "query_id", 10)
      Similarity.ndcgAtK(approx, exact, "query_id", "vec_id",
          "cosine_sim", "cosine_sim", 10)
        .orderBy(col("query_id"))
    }),

    // Fellegi-Sunter record linkage: customers vs a corrupted copy
    // (every 3rd customer; one name char deleted, every 6th segment
    // corrupted, every 9th nation shifted). Blocking on the name's last
    // two chars keeps candidates block-sized; the weight sum lands
    // exactly on the match boundary (4.0) for segment-corrupted pairs
    // and in the review tier (3.5) for nation-shifted ones.
    "x151_record_linkage" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val aSide = cust.select(col("c_custkey").as("cid"),
        substring(col("c_name"), -2, 2).as("blk"),
        col("c_name"), col("c_nationkey"), col("c_mktsegment"))
      val bSide = cust.filter(col("c_custkey") % 3 === 0).select(
        (col("c_custkey") + 1000000L).as("cid"),
        substring(col("c_name"), -2, 2).as("blk"),
        concat(substring(col("c_name"), 1, 9),
          substring(col("c_name"), 11, 100)).as("c_name"),
        when(col("c_custkey") % 9 === 0, col("c_nationkey") + 1)
          .otherwise(col("c_nationkey")).as("c_nationkey"),
        when(col("c_custkey") % 6 === 0, lit("CORRUPTED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      Dedup.linkRecords(aSide, bSide, "cid", "blk",
          Seq(Dedup.LinkField("c_name", 3.0, -2.0, maxDist = 1),
            Dedup.LinkField("c_nationkey", 1.5, -1.0),
            Dedup.LinkField("c_mktsegment", 1.5, -0.5)),
          upper = 4.0, lower = 2.0)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Streamed exact dedup (dropDuplicatesWithinWatermark — the
    // ingestion-side at-least-once guard): every 5th event is fed TWICE
    // (same id and content, the redelivery shape); the streamed sink
    // must equal the original table exactly — first occurrences emit
    // immediately, state evicts behind the watermark. Completes the
    // driver-visible streaming family: sinks (x128/x129), windowed agg
    // (x144), custom state (x146), stream-stream join (x147), dedup.
    "x152_stream_dedup" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_sdedup", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val ev = t(s, dir, "events").select(col("event_id"),
        col("ts").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"), col("value"))
      val withDups = ev.union(ev.filter(col("event_id") % 5 === 0))
      val b = ev.agg(min(col("ts")).as("mn")).head()
      def ms(a: Any): Long = a match {
        case t: java.sql.Timestamp => t.getTime
        case i: java.time.Instant => i.toEpochMilli
        case l: java.time.LocalDateTime =>
          l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      }
      def tsLit(m: Long): org.apache.spark.sql.Column = lit(b.get(0) match {
        case _: java.time.LocalDateTime => java.time.LocalDateTime.ofInstant(
          java.time.Instant.ofEpochMilli(m), java.time.ZoneOffset.UTC)
        case _: java.time.Instant => java.time.Instant.ofEpochMilli(m)
        case _ => new java.sql.Timestamp(m)
      })
      val mn = ms(b.get(0))
      val (t1, t2) = (tsLit(mn + 10L * 86400 * 1000),
        tsLit(mn + 20L * 86400 * 1000))
      withDups.filter(col("ts") < t1).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      withDups.filter(col("ts") >= t1 && col("ts") < t2).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      withDups.filter(col("ts") >= t2).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      import s.implicits._
      val feed = s.readStream.schema(withDups.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .as[graft.streaming.EventStreams.Event]
      val deduped = graft.streaming.EventStreams.dedupStream(feed,
        "10 minutes")(s)
      graft.streaming.EventStreams.withStatePartitions(s, 8) {
        val sq = graft.streaming.EventStreams.startParquetSink(deduped.toDF(),
          s"$root/out", s"$root/ckpt")
        try sq.processAllAvailable() finally sq.stop()
      }
      s.read.parquet(s"$root/out")
        .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }),

    // Benford's-law leading-digit profile of event amounts — the
    // fabricated-numbers screen, banking's classic forensic QA; all
    // nine digit rows emitted with observed vs expected fractions and
    // per-digit chi-square contributions
    "x153_benford_profile" -> ((s, dir) => {
      graft.quality.DataQuality.benfordProfile(t(s, dir, "events"), "value")
        .orderBy(col("digit"))
    }),

    // k-anonymity over customer quasi-identifiers (nation, segment,
    // balance sign): every equivalence class with its size and the
    // risky flag for classes below k=5 — the linkage-attack readout
    // that drives suppression/generalization before release
    "x154_k_anonymity" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_nationkey"),
        col("c_mktsegment"), (col("c_acctbal") >= 0).as("acct_positive"))
      graft.ops.Privacy.kAnonymity(cust,
          Seq("c_nationkey", "c_mktsegment", "acct_positive"), k = 5)
        .orderBy(col("c_nationkey"), col("c_mktsegment"),
          col("acct_positive"))
    }),

    // Seeded-Laplace differentially private event-type counts
    // (epsilon = 0.5): the md5-uniform inverse-CDF draw makes the
    // release reproducible and engine-replayable; exact n stays in the
    // fixture output only because the oracle checks it
    "x155_dp_counts" -> ((s, dir) => {
      graft.ops.Privacy.dpCounts(t(s, dir, "events"), "event_type",
          epsilon = 0.5, seed = "graft11")
        .orderBy(col("event_type"))
    }),

    // Grouped closed-form OLS: per event type, the value-vs-time trend
    // (x in epoch days) — slope/intercept/r2 from one aggregate of
    // decimal-exact sufficient statistics, the whole closed form
    // replayed operation for operation
    "x156_trend_regression" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        (col("ts").cast("timestamp").cast("double") / 86400.0).as("x"),
        col("value").as("y"))
      graft.ops.Stats.groupedOls(ev, "event_type", "x", "y")
        .orderBy(col("event_type"))
    }),

    // Incremental SemDeDup against a persisted store: originals ingested
    // as shard s1, the planted near-duplicate copies as shard s2 — every
    // near-dup pair is therefore a CROSS-shard pair, including the
    // retraction case (an original kept after s1 is the pair loser when
    // it sits closer to its centroid). currentState after both ingests
    // must equal batch semanticDedup over the union (x65's oracle,
    // re-aliased), which is the store's frozen-centroid equivalence
    // contract made a driver artifact
    "x157_semdedup_store" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_semstore", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val emb = t(s, dir, "embeddings")
      val corpus = embDupCorpus(emb)
      val cents = emb
        .filter(col("vec_id").isin(0L, 1L, 3L, 7L, 11L, 19L, 23L, 29L))
        .select(col("vec_id").as("cid"),
          transform(col("embedding"), x => x.cast("double")).as("cv"))
      graft.ops.SemDedupStore.buildStore(
        corpus.filter(col("vec_id") < 10000), "vec_id", "v",
        cents, "cid", "cv", 0.9, root, "s1")
      graft.ops.SemDedupStore.addShard(s, root,
          corpus.filter(col("vec_id") >= 10000), "vec_id", "v", "s2")
        .orderBy(col("id"))
    }),

    // Prototypicality pruning (Sorscher et al. '22 SSL-prototypes, the
    // D4 companion of SemDeDup): per cluster, rank by centroid cosine
    // and prune the most prototypical 30% — rank, size, and the keep
    // decision all replayed over the x65 corpus/centroid fixture
    "x158_prototype_prune" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = embDupCorpus(emb)
      val cents = emb
        .filter(col("vec_id").isin(0L, 1L, 3L, 7L, 11L, 19L, 23L, 29L))
        .select(col("vec_id").as("cid"),
          transform(col("embedding"), x => x.cast("double")).as("cv"))
      graft.ops.Sampling.prototypicalityPrune(corpus, "vec_id", "v",
          cents, "cid", "cv", 0.3)
        .orderBy(col("vec_id"))
    }),

    // Exact all-pairs Jaccard via prefix filtering (AllPairs, Bayardo
    // et al. '07) — the x142 discipline: the operator runs the prefix-
    // filtered path, the oracle the naive all-pairs formulation, and
    // equality proves the prefix principle's recall-completeness AND
    // the verify leg's precision on this corpus. Planted near-dups:
    // copies of docs < 40 with two novel tokens appended (J = n/(n+2))
    "x159_prefix_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val mutated = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" zq1 zq2")).as("text"))
      graft.ops.Dedup.prefixFilterJaccardPairs(docs.unionByName(mutated),
          "doc_id", "text", 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Streamed SemDeDup ingest: a COLD store (centroids + threshold
    // only), then the originals and the planted near-dup copies arrive
    // as two real micro-batches through semDedupSink — currentState
    // after the stream must equal batch semanticDedup over the union
    // (the x157 oracle verbatim), which pins the store's any-batch-
    // decomposition equivalence in a driver artifact: cross-BATCH pairs
    // are all the planted near-dups, including retractions
    "x160_stream_semdedup" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_semstream", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val emb = t(s, dir, "embeddings")
      val corpus = embDupCorpus(emb)
      val cents = emb
        .filter(col("vec_id").isin(0L, 1L, 3L, 7L, 11L, 19L, 23L, 29L))
        .select(col("vec_id").as("cid"),
          transform(col("embedding"), x => x.cast("double")).as("cv"))
      graft.ops.SemDedupStore.buildStore(corpus.filter(lit(false)),
        "vec_id", "v", cents, "cid", "cv", 0.9, s"$root/store", "s0")
      corpus.filter(col("vec_id") < 10000).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      corpus.filter(col("vec_id") >= 10000).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      val feed = s.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      graft.streaming.EventStreams.withStatePartitions(s, 8) {
        val sq = graft.streaming.EventStreams.semDedupSink(feed,
          "vec_id", "v", s"$root/store", s"$root/ckpt")
        try sq.processAllAvailable() finally sq.stop()
      }
      graft.ops.SemDedupStore.currentState(s, s"$root/store")
        .orderBy(col("id"))
    }),

    // Winnowing fingerprint overlap (MOSS): originals plus partial
    // copies that prepend per-doc junk and keep a 160-char mid-slice —
    // the position-shifted-copy case whole-doc digests and stride
    // sampling both miss. The portable md5 path is the oracle surface;
    // expected hits = all 40 planted slices (overlap ~1 on the short
    // side) plus the fixture's own planted duplicate docs
    "x161_winnow_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(lit("zq"), col("doc_id").cast("string"), lit("qz "),
            substring(col("text"), 30, 160)).as("text"))
      val fps = graft.ops.Dedup.winnowFingerprintsPortable(
        docs.unionByName(planted), "doc_id", "text", k = 16, w = 4)
      graft.ops.Dedup.winnowOverlapPairs(fps, maxDf = 64, minShared = 3)
        .filter(col("overlap") >= 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Perceptual (dHash) near-dup over media payloads: originals plus
    // one-byte-appended copies — the watermark/re-encode class a
    // content digest misses (payloads differ) and text dedup can't see
    // (opaque binary). One appended byte moves ONE grid cell => at
    // most 2 gradient bits, inside the hamming<=3 recall-complete
    // envelope of the 4x14-bit banding; the naive all-pairs hamming
    // scan is the oracle (bounded fixture, the x142/x159 convention)
    "x162_dhash_near_dup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val media = graft.ops.Multimodal.fromDocuments(docs)
      val perturbed = graft.ops.Multimodal.fromDocuments(
        docs.filter(col("doc_id") < 40)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(col("text"), lit("!")).as("text")))
      graft.ops.Multimodal.perceptualNearDupPairs(
          media.unionByName(perturbed), maxHamming = 3,
          maxBucketSize = 1024)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ROUGE-L: candidate = first 30 tokens, reference = the first 16
    // tokens with SWAPPED HALVES (tokens 9-16 then 1-8) — in-order
    // subsequence credit where BLEU's contiguous n-grams collapse; the
    // word-soup vocabulary repeats tokens, so the LCS routinely beats
    // the 8-token half and the DP's cross/skip cases all fire. Short
    // docs exercise the truncated-slice and empty-reference guards
    "x163_rouge_l" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(lower(col("text")))
      val fixture = t(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", slice(toks, 1, 30)).as("cand"),
        concat_ws(" ",
          concat(slice(toks, 9, 8), slice(toks, 1, 8))).as("ref"))
      graft.ops.TextAnalysis.rougeL(fixture, "cand", "ref")
        .select(col("doc_id"), col("lcs"), col("cand_len"),
          col("ref_len"), col("rouge_p"), col("rouge_r"), col("rouge_f"))
        .orderBy(col("doc_id"))
    }),

    // Energy-threshold segmentation (the VAD shape): every 3rd payload
    // gets a 64-space quiet gap spliced in after byte 100 — frames
    // inside the gap fall under the threshold and the active runs
    // split; partial final frames exercise the truncated-frame energy
    "x164_energy_segments" -> ((s, dir) => {
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(when(col("doc_id") % 3 === 0,
            concat(substring(col("text"), 1, 100), lit(" " * 64),
              substring(col("text"), 101, 1000000)))
          .otherwise(col("text")), "UTF-8").as("payload"))
      graft.ops.Multimodal.energySegments(media, frameBytes = 32,
          threshold = 2000L)
        .orderBy(col("media_id"), col("seg_start"))
    }),

    // Shot-boundary segmentation: each payload is a synthetic 15-frame
    // "video" of three 5-frame scenes (32-byte frames repeated from
    // three text slices) — within-scene hamming is 0, scene cuts jump,
    // so the running boundary count yields three 5-frame shots (fewer
    // when a doc's slices coincide — deterministic either way)
    "x165_shot_segments" -> ((s, dir) => {
      val padded = concat(col("text"), lit("x" * 96))
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(concat(
          repeat(substring(padded, 1, 32), 5),
          repeat(substring(padded, 33, 32), 5),
          repeat(substring(padded, 65, 32), 5)), "UTF-8").as("payload"))
      graft.ops.Multimodal.shotSegments(media, frameBytes = 32,
          maxHamming = 3)
        .orderBy(col("media_id"), col("shot"))
    }),

    // Winnow-fingerprint decontamination with span evidence: the
    // "benchmark" is 120-char mid-slices of the first 20 docs, so the
    // originals (and their fixture duplicates) must flag with the span
    // sitting at the slice location [~40, ~160); a doc whose slice is
    // too short to carry minShared fingerprints stays silent — the
    // threshold doing its job, deterministically on both engines
    "x166_winnow_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("bench_id"),
          substring(col("text"), 40, 120).as("text"))
      graft.ops.Dedup.winnowContaminationPortable(docs, "doc_id", "text",
          bench, "bench_id", "text", k = 16, w = 4, minShared = 3)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // Length-bucketed padded batches: 4 shards, 32-token buckets,
    // 2048-token batch budget — the md5-ordered deterministic batch
    // assignment replayed column for column (bucket, capacity, batch,
    // slot); measured on this fixture the bucketing holds padding to
    // ~21% where one unbucketed max-length batch regime pays ~60%
    "x167_length_batches" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        pmod(col("doc_id"), lit(4)).as("shard"),
        size(TextAnalysis.tokens(col("text"))).as("n_tokens"))
      graft.ops.Packing.lengthBucketedBatches(docs, "shard", "doc_id",
          "n_tokens", batchTokens = 2048L, bucketWidth = 32)
        .orderBy(col("shard"), col("doc_id"))
    }),

    // ICWS weighted-Jaccard near-dup: two planted classes set-minhash
    // cannot tell apart — token-REVERSED copies (same bag, J_w = 1)
    // and TF-SPIKED copies (first token appended 5x: set-Jaccard = 1
    // but J_w = n/(n+5), the frequency difference only bag semantics
    // sees). Fixture bounded to 200 base docs (the x159 discipline)
    // so every bucket stays under the cap and the star-anchor path —
    // which the oracle deliberately does not replay — never fires
    "x168_weighted_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
      val toks = TextAnalysis.tokens(col("text"))
      val corpus = docs
        .unionByName(docs.filter(col("doc_id") < 30)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat_ws(" ", reverse(toks)).as("text")))
        .unionByName(docs.filter(col("doc_id") < 30)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat_ws(" ", concat(toks,
              array((0 until 5).map(_ => element_at(toks, 1)): _*)))
              .as("text")))
      val tf = corpus.select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("w"))
      graft.ops.Dedup.weightedJaccardPairs(tf, "doc_id", "tok", "w",
          k = 8, threshold = 0.6, maxBucketSize = 1024)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Streaming winnow-decontamination: the x166 fixture through the
    // winnowScreenSink in 3 real micro-batches (file source). Screening
    // is per-doc stateless, so the flagged-side readback must equal the
    // batch x166 answer verbatim (the oracle IS x166's replay);
    // clean-side routing is pinned by spec, and exactly-once holds by
    // construction: both routes are batch_id-partitioned dynamic
    // overwrites, so at-least-once redelivery rewrites its own
    // partition (the readback drops the batch_id plumbing column)
    "x169_stream_winnow_screen" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_swinnow", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("bench_id"),
          substring(col("text"), 40, 120).as("text"))
      val benchFps = graft.ops.Dedup.winnowFingerprintsPortable(
        bench, "bench_id", "text", k = 16, w = 4).persist()
      benchFps.count()
      docs.repartition(3).write.parquet(s"$root/in")
      val feed = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val sq = graft.streaming.EventStreams.winnowScreenSink(feed,
        "doc_id", "text", benchFps, k = 16, w = 4, minShared = 3,
        portable = true, s"$root/clean", s"$root/flagged", s"$root/ckpt")
      try sq.processAllAvailable() finally sq.stop()
      s.read.parquet(s"$root/flagged")
        .select(col("doc_id"), col("bench_id"), col("shared"),
          col("span_start"), col("span_end"))
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // Vocabulary-growth curve over 5 shards + the Heaps-law exponent
    // fitted through groupedOls (the x156 micro-grid OLS composed onto
    // log-log points): 4-gram types open the bounded word-soup
    // vocabulary so the power law is visible (unigram types saturate at
    // shard 0 — the degenerate case the gramW knob exists for)
    "x170_vocab_growth" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
        .select(pmod(col("doc_id"), lit(5)).as("shard"), col("text"))
      graft.ops.TextAnalysis.vocabGrowth(docs, "shard", "text", gramW = 4)
        .orderBy(col("shard"))
    }),

    // Token frequency spectrum + Turing adjusted counts and the
    // Good-Turing unseen mass — the count-of-counts table LM smoothing
    // starts from; 4-gram types for the same open-vocabulary reason
    "x171_frequency_spectrum" -> ((s, dir) => {
      graft.ops.TextAnalysis.frequencySpectrum(
          t(s, dir, "documents").filter(col("doc_id") < 1000),
          "text", maxR = 20, gramW = 4)
        .orderBy(col("r"))
    }),

    // Cross-modal alignment gate (CLIP-score family): paired
    // (text-embedding, media-embedding) rows built from the embeddings
    // table — pair i carries vector i on both sides (perfectly aligned,
    // cosine 1.0) except the PLANTED mismatches (vec_id % 10 == 7),
    // whose media side is vector i+1 (random high-dim vectors: cosine
    // near 0). The 0.99 gate must flag exactly the planted rows.
    "x172_alignment_gate" -> ((s, dir) => {
      CrossModal.alignmentGate(crossModalPairs(t(s, dir, "embeddings")),
          "pair_id", "text_vec", "media_vec", minScore = 0.99)
        .select(col("pair_id"), col("align_score"), col("aligned"))
        .orderBy(col("pair_id"))
    }),

    // UniMax epoch-capped mixture over skewed synthetic sources
    // (8:4:2:1:1 doc-count ratio via pmod buckets — the real documents
    // sources are near-uniform, which would put every source on one
    // side of the cap): at budget 40k tokens with a 2-epoch cap the two
    // smallest sources cap exactly and the surplus water-fills the rest
    "x174_unimax_mixture" -> ((s, dir) => {
      val g = pmod(col("doc_id"), lit(16))
      val docs = t(s, dir, "documents").select(
        when(g < 8, "a").when(g < 12, "b").when(g < 14, "c")
          .when(g === 14, "d").otherwise("e").as("src"),
        col("text"))
      graft.ops.Sampling.unimaxMixture(docs, "src", "text",
          budget = 40000L, epochCap = 2.0)
        .orderBy(col("source"))
    }),

    // IVF list SPLIT lifecycle (x175) — the action arm of the x102
    // stats readout: the hottest list is re-clustered over 4 fresh
    // sub-lists (portable trainer), the old list retired by a
    // list-scoped tombstone that prunes as a PartitionFilter, and
    // search must equal brute probe semantics over the index's ACTUAL
    // post-split placement (old assignment outside the split list,
    // post-split assignment for its rows — the same frozen-model
    // discipline as x50's reference). Replay of the completed split is
    // a no-op (tombstone short-circuit); compaction drops the dead
    // list physically and changes no answer. The frame-equality-
    // boolean family of x50/x69.
    "x175_ivf_split" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = IVF.train(emb, "vec_id", "embedding", nc = 8, iters = 3)
      val idx = ParityQueries.tmpPath("graft_ivf_split", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
      IVF.writeIndexAppendable(IVF.assign(emb, "embedding", model), idx,
        model, "base")
      val hot = IVF.indexStats(s, idx, "vec_id")
        .orderBy(col("n_live").desc, col("centroid_id")).head.getInt(0)
      val oldCount = s.read.parquet(s"$idx/vectors")
        .filter(col("centroid_id") === hot).count()
      val post = IVF.splitList(s, idx, hot, kSplit = 4, "vec_id",
        "embedding", "sp1", iters = 3)
      val q = emb.filter(col("vec_id") % 10 === 3).limit(5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val viaIndexDf = IVF.searchBatchAppendable(s, idx, q, "vec_id",
        "embedding", "query_id", k = 10, nprobe = 4)
      val prunedOk = "PartitionFilters: \\[[^\\]]*centroid_id".r
        .findFirstIn(viaIndexDf.queryExecution.executedPlan.toString)
        .isDefined
      // top-k frames are |queries|·k rows — compare as collected SETS
      // (one job per side) instead of exceptAll legs that re-evaluate
      // the brute reference four times
      def keyed(df: DataFrame): Set[(Long, Long, Double)] = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val viaIndex = keyed(viaIndexDf)
      // reference placement: rows outside the split list keep their
      // frozen base-model assignment; the split list's rows re-assign
      // under the post-split model — exactly what splitList stored
      val oldAssigned = IVF.assign(emb, "embedding", model)
      val refAssigned = oldAssigned.filter(col("centroid_id") =!= hot)
        .unionByName(IVF.assign(
          oldAssigned.filter(col("centroid_id") === hot)
            .drop("centroid_id"), "embedding", post))
      val ref = keyed(IVF.searchBatch(refAssigned, q, "vec_id",
        "embedding", "query_id", post, k = 10, nprobe = 4))
      val matches = viaIndex == ref
      val stats = IVF.indexStats(s, idx, "vec_id").collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val oldRetired = stats(hot) == ((0L, oldCount))
      // conservation is per SHARD, not per sub-list: a boundary vector
      // whose old centroid vanished may re-assign to a neighboring
      // ORIGINAL list — still live, still counted once
      val subsHoldLive = s.read.parquet(s"$idx/vectors")
        .filter(col("ingest_shard") === "sp1").count() == oldCount
      val replayNoop = IVF.splitList(s, idx, hot, kSplit = 4, "vec_id",
        "embedding", "sp1", iters = 3).nc == post.nc
      IVF.compactVectors(s, idx, "vec_id", "c1")
      val compactMatches = keyed(IVF.searchBatchAppendable(s, idx, q,
        "vec_id", "embedding", "query_id", k = 10, nprobe = 4)) == ref
      val oldGone = s.read.parquet(s"$idx/vectors")
        .filter(col("centroid_id") === hot).isEmpty
      emb.agg(count(lit(1)).as("n_vectors"))
        .withColumn("n_lists_before", lit(8))
        .withColumn("n_lists_after", lit(post.nc))
        .withColumn("split_matches_ref", lit(matches))
        .withColumn("old_list_retired", lit(oldRetired))
        .withColumn("sub_lists_hold_live", lit(subsHoldLive))
        .withColumn("replay_noop", lit(replayNoop))
        .withColumn("compact_preserves_answers", lit(compactMatches))
        .withColumn("old_list_removed", lit(oldGone))
        .withColumn("partition_pruned", lit(prunedOk))
    }),

    // CCNet per-PARAGRAPH perplexity filter (x176): every 3rd doc gains
    // a planted OOV-bigram paragraph whose every bigram scores the
    // continuation floor k/(T+kV) — far above the threshold — while the
    // original paragraphs are IN the KN model corpus and score low. The
    // oracle replays the whole pipeline value-for-value (x141's KN CTEs
    // at paragraph grain + threshold + ordered reassembly), so the
    // kept/dropped boundary and the rebuilt text both hash-match.
    "x176_paragraph_ppl_filter" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val docs = base.select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit("\n\nzzqa zzqb zzqc zzqd zzqe")))
        .otherwise(col("text")).as("text"))
      TextAnalysis.paragraphPerplexityFilter(base, docs, "doc_id", "text",
          maxNll = 5.0)
        .orderBy(col("doc_id"))
    }),

    // Streaming KN-perplexity screen (x178): the CCNet LM gate at the
    // stream seam — the x176/x177 fixture's model trained ONCE on the
    // original corpus, the mutated feed (every 7th doc replaced by
    // OOV garbage at the continuation floor) screened in 3 real
    // micro-batches. Scoring is per-doc stateless, so the flagged
    // readback equals the batch knBigramNll + threshold replay; clean
    // routing and exactly-once are pinned by spec (the x169
    // convention)
    "x178_stream_perplexity_screen" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_sppl", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs = base.select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          lit("zzqa zzqb zzqc zzqd zzqe zzqf"))
        .otherwise(col("text")).as("text"))
      val model = TextAnalysis.knTrain(base, "text")
      docs.repartition(3).write.parquet(s"$root/in")
      val feed = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val sq = graft.streaming.EventStreams.perplexityScreenSink(feed,
        "doc_id", "text", model, maxNll = 5.0,
        s"$root/clean", s"$root/flagged", s"$root/ckpt")
      try sq.processAllAvailable() finally sq.stop()
      model.unpersist()
      s.read.parquet(s"$root/flagged")
        .select(col("doc_id"), col("n_bigrams"), col("kn_nll"))
        .orderBy(col("doc_id"))
    }),

    // Gopher repetition-rule bundle (x179): planted violators per rule
    // family — every 5th doc gains a triplicated line, every 7th a
    // duplicated paragraph, every 11th a badger-flood (top-2-gram),
    // every 13th four copies of a 10-token sentence (duplicated
    // 5..10-grams, saturating the 1.0 cap). Full value-level replay:
    // line/para legs case-sensitive on raw text, gram legs lowercased,
    // top gram tie-broken by (count, gram) descending
    "x179_gopher_repetition" -> ((s, dir) => {
      val sentence = (0 until 10).map(i => s"s$i").mkString(" ")
      // token appends FIRST, unit mutations after — a trailing token
      // append would otherwise fuse onto the last duplicated line/
      // paragraph and silently un-duplicate it for combined violators
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 11 === 0,
            lit(" badger" * 40))
            .otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            lit(" " + Seq.fill(4)(sentence).mkString(" ")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit("\nrepeat line" * 8))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\n\nsame para\n\nsame para")).otherwise(lit("")))
          .as("text"))
      TextAnalysis.gopherRepetitionRules(docs, "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Variable-length exact-substring dedup (x180, Lee et al. '22
    // ExactSubstr, keep-one): docs < 40 gain a clone (id + 40000)
    // carrying their first 20 + id%35 tokens — verbatim repeated spans
    // of 20..54 tokens, variable per doc. The original (smallest id) is
    // the canonical copy and survives whole; the clone's copy is
    // removed in full; clones whose source was shorter than minLen stay
    // untouched (no window). The oracle replays windows, canonical
    // selection, coverage, and the splice end to end.
    "x180_exact_substr" -> ((s, dir) => {
      Dedup.exactSubstrDedup(exactSubstrCorpus(t(s, dir, "documents")),
          "doc_id", "text", minLen = 20)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Incremental ExactSubstr (x182): originals build the persisted
    // window index, the clones arrive as a shard — addShard's as-of
    // report (clone ids) unioned with the store readout of the base
    // (dedupWithIndex) must equal ONE batch run over the union, so the
    // oracle is x180's full SQL replay verbatim. This is the strongest
    // form of the x49 ingest≡batch equivalence: per-doc rebuilt text,
    // not agreement booleans. Bounded to docs<500 for the same reason
    // x49 is bounded to 300: the check intentionally pays index build +
    // ingest + a full store readout + the replay, and the bound keeps
    // the benched cost flat across scale factors — the equivalence
    // claim itself is structural (the store's windows ARE the batch
    // span frame), not size-dependent; the scale curve lives in
    // DedupScaleSmoke.
    "x182_exact_substr_store" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_exsubstore", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val base = t(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"), col("text"))
      val clones = exactSubstrCorpus(base).filter(col("doc_id") >= 40000)
      ExactSubstrStore.buildIndex(base, "doc_id", "text", root,
        ExactSubstrStore.Params(minLen = 20))
      val cloneRep = ExactSubstrStore.addShard(s, root, clones,
        "doc_id", "text", "clones")
      val baseRep = ExactSubstrStore.dedupWithIndex(s, root, base,
        "doc_id", "text")
      baseRep.unionByName(cloneRep)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Streaming ExactSubstr ingestion (x184): cold-start window index,
    // originals and clones arrive as separate micro-batches through
    // exactSubstrIngestSink (file source, one file per trigger), and
    // the FINAL store readout must equal one batch run over everything
    // streamed — canonical selection is arrival-order-invariant, so the
    // oracle is the same x180 batch replay bounded to the fixture.
    // Bounded to docs<200: the benched cost is stream start/stop +
    // two shard ingests, the x178 lifecycle class.
    "x184_stream_exact_substr" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_sexsub", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val base = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val toks = TextAnalysis.tokens(col("text"))
      val clones = base.filter(col("doc_id") < 40)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1),
            (lit(20) + pmod(col("doc_id"), lit(35))).cast("int"))).as("text"))
      ExactSubstrStore.buildIndex(base.filter(lit(false)), "doc_id", "text",
        s"$root/idx", ExactSubstrStore.Params(minLen = 20))
      base.repartition(1).write.parquet(s"$root/in")
      clones.repartition(1).write.mode("append").parquet(s"$root/in")
      val feed = s.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val sq = graft.streaming.EventStreams.exactSubstrIngestSink(feed,
        "doc_id", "text", s"$root/idx", s"$root/reports", s"$root/ckpt")
      try sq.processAllAvailable() finally sq.stop()
      ExactSubstrStore.dedupWithIndex(s, s"$root/idx",
          base.unionByName(clones), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Retraction feed (x183): the clones arrive with SMALLER ids than
    // their sources (id - 40000), so every duplicated window's canonical
    // MOVES to the shard copy and the already-published source doc's
    // span becomes removable — retractionsForShard must name exactly
    // the displaced (source id, window pos) occurrences. The oracle
    // replays old-canonical (prior windows of shard-touched grams) vs
    // new-canonical (prior ∪ shard) selection. Bounded like x182.
    "x183_exact_substr_retractions" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_exsubretr", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val base = t(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"), col("text"))
      val toks = TextAnalysis.tokens(col("text"))
      val clones = base.filter(col("doc_id") >= 40 && col("doc_id") < 80)
        .select((col("doc_id") - 40000).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1),
            (lit(20) + pmod(col("doc_id"), lit(35))).cast("int"))).as("text"))
      ExactSubstrStore.buildIndex(base, "doc_id", "text", root,
        ExactSubstrStore.Params(minLen = 20))
      ExactSubstrStore.addShard(s, root, clones, "doc_id", "text", "steal")
      ExactSubstrStore.retractionsForShard(s, root, "steal")
        .select(col("id").as("doc_id"), col("pos").cast("long").as("pos"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // Span-evidence twin (x181): the maximal variable-length repeated
    // spans themselves — each planted clone span appears once with
    // kept=true (the source copy) and once with kept=false (the clone),
    // with identical span_text on both rows
    "x181_exact_substr_spans" -> ((s, dir) => {
      Dedup.exactSubstrSpans(exactSubstrCorpus(t(s, dir, "documents")),
          "doc_id", "text", minLen = 20)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // CCNet head/middle/tail bucketing (x177): rank-based thirds WITHIN
    // each language group (skewed en:fr:de = 2:1:1 via pmod), so the cut
    // adapts to each group's own NLL distribution; ties rank by doc_id
    // — deterministic in both engines
    "x177_perplexity_buckets" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val docs = base.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) <= 1, "en")
          .when(pmod(col("doc_id"), lit(4)) === 2, "fr")
          .otherwise("de").as("lang"),
        col("text"))
      TextAnalysis.perplexityBuckets(base, docs, "doc_id", "text", "lang")
        .orderBy(col("doc_id"))
    }),

    // Mismatched-pair mining over the same planted fixture: for each
    // flagged pair, the top-3 media from the full embeddings corpus
    // aligning strictly better than its own media. Pair i's true
    // partner (vector i, cosine 1.0) must surface at rank 1 with
    // margin = 1 - align_score — the swapped-pairing diagnosis.
    "x173_mismatch_mining" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      CrossModal.mismatchMining(crossModalPairs(emb),
          "pair_id", "text_vec", "media_vec",
          emb, "vec_id", "embedding", k = 3, minScore = 0.99)
        .orderBy(col("pair_id"), col("cand_score").desc,
          col("cand_media_id"))
    }),

    // Content-defined chunking (x185): md5-h60 candidate cuts + the
    // min/max boundary walk over documents plus 40 head-edited copies
    // (an 11-char insertion) — the copies' chunk digests re-align with
    // their sources' after the first content-determined cut, the
    // resync property the operator exists for (visible in the shared
    // digests; pinned by CdcSpec). The oracle replays the candidate
    // predicate as a list_filter over md5 grams and the walk as a
    // recursive CTE (next = coalesce(min(cand in window),
    // least(prev+maxLen, len))).
    "x185_cdc_chunks" -> ((s, dir) => {
      val base = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val shifted = base.filter(col("doc_id") < 40)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(lit("zq-inserted "), col("text")).as("text"))
      Cdc.chunksPortable(base.unionByName(shifted), "doc_id", "text",
          k = 16, divisor = 16, minLen = 24, maxLen = 96)
        .select(col("id").as("doc_id"), col("idx").cast("long").as("idx"),
          col("start").cast("long").as("start"),
          col("len").cast("long").as("len"), col("digest"))
        .orderBy(col("doc_id"), col("start"))
    }),

    // Cross-version chunk reuse (x186): corpus v2 = v1 with every third
    // doc head-edited plus 40 fresh docs; the per-doc digest semi-join
    // readout must show unchanged docs at frac 1.0, edited docs
    // re-synced high, fresh docs near 0 — the re-crawl delta-ingest
    // readout fixed-width chunking cannot produce (one head edit
    // shifts every fixed window). Oracle: both versions through the
    // same recursive-CTE walk, then the reuse join on digests.
    "x186_cdc_delta" -> ((s, dir) => {
      val v1 = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val v2 = v1.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("rev2 edit: "), col("text")))
            .otherwise(col("text")).as("text"))
        .unionByName(t(s, dir, "documents")
          .filter(col("doc_id") >= 300 && col("doc_id") < 340)
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      val p = (d: org.apache.spark.sql.DataFrame) =>
        Cdc.chunksPortable(d, "doc_id", "text", k = 16, divisor = 16,
          minLen = 24, maxLen = 96)
      Cdc.chunkReuse(p(v1), p(v2), minReuseLen = 24)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Chunk-digest store (x187): build on v1, ingest a fresh shard A
    // then an edited-copies shard B — B's report must read reuse
    // against v1 UNION A (the store accumulates across shards without
    // re-chunking prior versions; pinned as chunkReuse's incremental
    // twin by CdcStoreSpec). The oracle replays both digest sets and
    // both reuse joins.
    "x187_cdc_store" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_cdcstore", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val v1 = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val shardA = t(s, dir, "documents")
        .filter(col("doc_id") >= 300 && col("doc_id") < 340)
        .select((col("doc_id") + 20000).as("doc_id"), col("text"))
      val shardB = v1.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat(lit("rev2 edit: "), col("text")).as("text"))
      CdcStore.build(v1, "doc_id", "text", root,
        CdcStore.Params(family = "md5", k = 16, divisor = 16,
          minLen = 24, maxLen = 96, nBuckets = 2))
      val repA = CdcStore.addShard(s, root, shardA, "doc_id", "text", "a")
      val repB = CdcStore.addShard(s, root, shardB, "doc_id", "text", "b")
      repA.withColumn("shard", lit("a"))
        .unionByName(repB.withColumn("shard", lit("b")))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Streaming re-crawl ingestion (x188): store built on a base
    // corpus, two micro-batches through cdcIngestSink (file source,
    // one file per trigger) — batch 0 = head-edited copies of base
    // docs, batch 1 = verbatim copies of BATCH 0's edited docs plus
    // fresh docs. Batch 1's full-reuse rows are attributable to batch
    // 0's digests, not the base — the cross-batch accumulation the
    // sink exists for. The oracle replays both batches' reuse joins
    // against the growing digest set.
    "x188_stream_cdc_ingest" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_scdc", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val base = t(s, dir, "documents").filter(col("doc_id") < 150)
        .select(col("doc_id"), col("text"))
      val b0 = base.filter(col("doc_id") < 40)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat(lit("rev2 edit: "), col("text")).as("text"))
      val b1 = b0.select((col("doc_id") + 40000).as("doc_id"), col("text"))
        .unionByName(t(s, dir, "documents")
          .filter(col("doc_id") >= 150 && col("doc_id") < 170)
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      CdcStore.build(base, "doc_id", "text", s"$root/store",
        CdcStore.Params(family = "md5", k = 16, divisor = 16,
          minLen = 24, maxLen = 96, nBuckets = 2))
      b0.repartition(1).write.parquet(s"$root/in")
      b1.repartition(1).write.mode("append").parquet(s"$root/in")
      val feed = s.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val sq = graft.streaming.EventStreams.cdcIngestSink(feed,
        "doc_id", "text", s"$root/store", s"$root/reports", s"$root/ckpt")
      try sq.processAllAvailable() finally sq.stop()
      s.read.parquet(s"$root/reports")
        .withColumnRenamed("id", "doc_id")
        .withColumn("batch_id", col("batch_id").cast("long"))
        .orderBy(col("batch_id"), col("doc_id"))
    }),

    // Incremental BM25 store (x189): inverted index built on a base
    // corpus, two shards ingested — with a global compaction between
    // them, so the probe's layout-invariance is inside the oracle
    // check — then top-10 retrieval for the x78 query set against
    // store state. The oracle replays batch BM25 over the union: the
    // store's whole contract is state-backed retrieval ≡ full
    // re-tokenization, at bucket-pruned cost.
    "x189_bm25_store" -> ((s, dir) => {
      import s.implicits._
      val root = ParityQueries.tmpPath("graft_bm25store", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val docs = t(s, dir, "documents")
      Bm25Store.build(docs.filter(col("doc_id") < 300)
          .select(col("doc_id"), col("text")),
        "doc_id", "text", root, Bm25Store.Params(nBuckets = 4))
      Bm25Store.addShard(s, root,
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
          .select(col("doc_id"), col("text")),
        "doc_id", "text", "a")
      Bm25Store.compactShards(s, root)
      Bm25Store.addShard(s, root,
        docs.filter(col("doc_id") >= 400 && col("doc_id") < 460)
          .select(col("doc_id"), col("text")),
        "doc_id", "text", "b")
      val qs = Seq((1L, "spark window agg"), (2L, "slow query scan"),
        (3L, "customer table join fast")).toDF("query_id", "qtext")
      Bm25Store.topK(s, root, qs, "query_id", "qtext", k = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("query_id"), col("rank"))
    }),

    // Ingest vocabulary-growth reports (x190): what each crawl shard
    // bought — docs, token mass, postings, distinct terms, and NEW
    // terms vs all prior state. Shard B's "prior" is base ∪ A — the
    // cross-shard accumulation the report probe exists for. The
    // oracle replays the distinct-term anti-joins over the same
    // splits.
    "x190_bm25_store_report" -> ((s, dir) => {
      val root = ParityQueries.tmpPath("graft_bm25rep", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val docs = t(s, dir, "documents")
      Bm25Store.build(docs.filter(col("doc_id") < 300)
          .select(col("doc_id"), col("text")),
        "doc_id", "text", root, Bm25Store.Params(nBuckets = 4))
      val repA = Bm25Store.addShard(s, root,
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
          .select(col("doc_id"), col("text")),
        "doc_id", "text", "a")
      val repB = Bm25Store.addShard(s, root,
        docs.filter(col("doc_id") >= 400 && col("doc_id") < 460)
          .select(col("doc_id"), col("text")),
        "doc_id", "text", "b")
      repA.unionByName(repB).orderBy(col("ingest_shard"))
    }),

    // Streaming BM25 ingestion (x191): store built on a base corpus,
    // two micro-batches through bm25IngestSink (file source, one file
    // per trigger), then the top-10 readout against FINAL state. The
    // oracle replays batch BM25 over everything ever ingested —
    // arrival-order invariance proved at the oracle, the x184
    // discipline for the retrieval index.
    "x191_stream_bm25_ingest" -> ((s, dir) => {
      import s.implicits._
      val root = ParityQueries.tmpPath("graft_sbm25", dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val docs = t(s, dir, "documents")
      Bm25Store.build(docs.filter(col("doc_id") < 200)
          .select(col("doc_id"), col("text")),
        "doc_id", "text", s"$root/store", Bm25Store.Params(nBuckets = 4))
      val b0 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 260)
        .select(col("doc_id"), col("text"))
      val b1 = docs.filter(col("doc_id") >= 260 && col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      b0.repartition(1).write.parquet(s"$root/in")
      b1.repartition(1).write.mode("append").parquet(s"$root/in")
      val feed = s.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val sq = graft.streaming.EventStreams.bm25IngestSink(feed,
        "doc_id", "text", s"$root/store", s"$root/reports", s"$root/ckpt")
      try sq.processAllAvailable() finally sq.stop()
      val qs = Seq((1L, "spark window agg"), (2L, "slow query scan"),
        (3L, "customer table join fast")).toDF("query_id", "qtext")
      Bm25Store.topK(s, s"$root/store", qs, "query_id", "qtext", k = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("query_id"), col("rank"))
    }))

  /** Clone fixture for x180/x181: documents plus, for doc_id < 40, a
    * clone (doc_id + 40000) carrying the source's first 20 + doc_id%35
    * tokens — variable-length verbatim spans (20..54 tokens; sources
    * shorter than 20 tokens yield sub-threshold clones that must pass
    * through untouched). */
  private def exactSubstrCorpus(base: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val clones = base.filter(col("doc_id") < 40)
      .select((col("doc_id") + 40000).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1),
          (lit(20) + pmod(col("doc_id"), lit(35))).cast("int"))).as("text"))
    base.select(col("doc_id"), col("text")).unionByName(clones)
  }

  /** Paired cross-modal fixture for x172/x173: the embeddings table as
    * both modalities — pair i = (text vec i, media vec i), except
    * vec_id % 10 == 7 rows whose media side is SWAPPED to vector i+1
    * (the planted mismatch; i+1 always exists because the table is
    * id-dense and the max id is % 10 == 9). */
  private def crossModalPairs(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id").as("pair_id"),
      col("embedding").as("text_vec"),
      when(pmod(col("vec_id"), lit(10)) === 7, col("vec_id") + 1)
        .otherwise(col("vec_id")).as("__msrc"))
    base.join(emb.select(col("vec_id").as("__msrc"),
        col("embedding").as("media_vec")), Seq("__msrc"))
      .select(col("pair_id"), col("text_vec"), col("media_vec"))
  }

  /** Planted separable classification fixture for x88/x90: each doc
    * truncated to its first 12 tokens plus a 4x-repeated class marker.
    * The truncation is what keeps full-batch GD well-conditioned at
    * lr=0.5 — with raw ~100-token count features the curvature along a
    * bucket direction scales with the squared per-bucket count and the
    * same lr diverges (measured: loss 0.69 -> 11.8 by epoch 3 untruncated
    * vs 0.69 -> 0.09 here); real corpora tune lr down or shorten/
    * normalize text upstream, a planted oracle fixture just stays short. */
  private def logRegFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(concat_ws(" ",
          slice(TextAnalysis.tokens(col("text")), 1, 12)),
        when(col("doc_id") % 2 === 0, lit(" qpos qpos qpos qpos"))
          .otherwise(lit(" qneg qneg qneg qneg"))).as("text"),
      (col("doc_id") % 2 === 0).cast("int").as("y"))

  /** Shared DuckDB replay of x88/x90's logistic-regression training: 3
    * unrolled full-batch GD epochs (the x73 unrolled-CTE convention),
    * weights ROUND(…, 6) after every update exactly as
    * [[graft.ops.TextAnalysis.trainHashedLogReg]] does — which is what
    * pins the two engines' trajectories bit-identical despite their
    * different float summation orders. */
  private val logRegCtes: String =
    """docs AS (
      |  SELECT doc_id,
      |    lower(array_to_string(list_slice(list_filter(string_split_regex(trim(text), '\s+'),
      |      x -> len(x) > 0), 1, 12), ' '))
      |    || CASE WHEN doc_id % 2 = 0 THEN ' qpos qpos qpos qpos' ELSE ' qneg qneg qneg qneg' END AS text,
      |    CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS y
      |  FROM documents),
      |feats AS (
      |  SELECT doc_id, y,
      |    CAST(('0x' || substring(md5(f), 1, 8)) AS BIGINT) % 64 AS b
      |  FROM (SELECT doc_id, y,
      |          unnest(list_filter(string_split_regex(trim(text), '\s+'),
      |            x -> len(x) > 0)) AS f
      |        FROM docs)),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM docs),
      |allb AS (SELECT unnest(range(0, 64)) AS b),
      |g1 AS (SELECT b, sum(0.5 - y) AS gs FROM feats GROUP BY b),
      |w1 AS (SELECT allb.b, ROUND(0.0 - 0.5 * coalesce(g1.gs, 0) / nn.n, 6) AS w
      |       FROM allb LEFT JOIN g1 USING (b), nn),
      |b1 AS (SELECT ROUND(0.0 - 0.5 * (SELECT sum(0.5 - y) FROM docs) / nn.n, 6) AS w FROM nn),
      |z2 AS (SELECT f.doc_id, f.y, (SELECT w FROM b1) + sum(w1.w) AS z
      |       FROM feats f JOIN w1 ON f.b = w1.b GROUP BY f.doc_id, f.y),
      |r2 AS (SELECT doc_id, y, 1.0 / (1.0 + exp(-z)) - y AS r FROM z2),
      |g2 AS (SELECT f.b, sum(r2.r) AS gs FROM feats f JOIN r2 ON f.doc_id = r2.doc_id GROUP BY f.b),
      |w2 AS (SELECT w1.b, ROUND(w1.w - 0.5 * coalesce(g2.gs, 0) / nn.n, 6) AS w
      |       FROM w1 LEFT JOIN g2 ON w1.b = g2.b, nn),
      |b2 AS (SELECT ROUND((SELECT w FROM b1) - 0.5 * (SELECT sum(r) FROM r2) / nn.n, 6) AS w FROM nn),
      |z3 AS (SELECT f.doc_id, f.y, (SELECT w FROM b2) + sum(w2.w) AS z
      |       FROM feats f JOIN w2 ON f.b = w2.b GROUP BY f.doc_id, f.y),
      |r3 AS (SELECT doc_id, y, 1.0 / (1.0 + exp(-z)) - y AS r FROM z3),
      |g3 AS (SELECT f.b, sum(r3.r) AS gs FROM feats f JOIN r3 ON f.doc_id = r3.doc_id GROUP BY f.b),
      |w3 AS (SELECT w2.b, ROUND(w2.w - 0.5 * coalesce(g3.gs, 0) / nn.n, 6) AS w
      |       FROM w2 LEFT JOIN g3 ON w2.b = g3.b, nn),
      |b3 AS (SELECT ROUND((SELECT w FROM b2) - 0.5 * (SELECT sum(r) FROM r3) / nn.n, 6) AS w FROM nn)""".stripMargin

  // ---- SRP-LSH oracle support (r11) ---------------------------------------
  // The SRP hyperplane signs are DATA-INDEPENDENT constants: component
  // (j, d) is +-1 by the low bit of XXH64.hashLong(d, XXH64.hashLong(j, 42))
  // (see graft.functions.SrpSignature). That makes the whole matrix
  // derivable at oracle-build time — the x120 planted-codebook trick
  // applied to SRP: the oracle SQL embeds the DERIVED +-1 literals, so
  // DuckDB replays sign(<v, plane_j>) with no xxhash64 of DATA anywhere.
  // Dimension is fixed at the embeddings table's 64 (the oracle only runs
  // at the driver's sf, same contract as the other embedding oracles).

  private def srpPlaneLit(j: Int, dim: Int): String =
    (0 until dim).map { d =>
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(d.toLong, org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(j.toLong, 42L))
      if ((h & 1L) == 1L) "1.0" else "-1.0"
    }.mkString("[", ",", "]")

  /** SQL for [[graft.ops.Hll]]'s rho (1 + leading zeros of the low
    * `32-p` bits of `hashExpr`) — the same exact comparison chain the
    * Spark expression uses, so both engines compute identical registers
    * with no floating log anywhere. */
  private def hllRhoSql(hashExpr: String, p: Int): String = {
    val w = 32 - p
    val suffix = s"($hashExpr & ${(1L << w) - 1})"
    "(CASE " +
      (1 to w).map(r => s"WHEN $suffix >= ${1L << (w - r)} THEN $r")
        .mkString(" ") +
      s" ELSE ${w + 1} END)"
  }

  /** Shared CTE body replaying [[graft.ops.Hll]] registers + estimate
    * over the whole documents token stream, grouped by `grpSql` (empty
    * -> global). Emits reg(grp…, bucket, rho) and est(grp…, n_registers,
    * est). The estimator's SQL mirrors the Spark float ops ONE FOR ONE
    * (left-assoc alpha*m*m, exact dyadic 1/2^rho terms, the same
    * small-range branch); the 32-bit large-range branch cannot fire at
    * oracle scale on either side so the SQL omits it. */
  private def hllCtesSql(grpCol: Option[String]): String = {
    val grpSel = grpCol.map(g => s"$g, ").getOrElse("")
    val grpBy1 = grpCol.map(_ => "GROUP BY 1, 2").getOrElse("GROUP BY 1")
    val grpByE = grpCol.map(_ => "GROUP BY 1").getOrElse("")
    val hv = "CAST(('0x' || substring(md5('hll_' || tok), 1, 8)) AS BIGINT)"
    s"""tok AS (
       |  SELECT ${grpSel}unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |    x -> len(x) > 0)) AS tok
       |  FROM documents),
       |hr AS (
       |  SELECT $grpSel($hv >> 22) AS bucket,
       |    ${hllRhoSql(hv, 10)} AS rho
       |  FROM tok),
       |reg AS (SELECT ${grpSel}bucket, max(rho) AS rho FROM hr $grpBy1),
       |ag AS (
       |  SELECT ${grpSel}count(*) AS n_registers,
       |    sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << rho)) AS pw
       |  FROM reg $grpByE),
       |est AS (
       |  SELECT ${grpSel}n_registers,
       |    ROUND(CASE
       |      WHEN (CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 1024) * 1024 * 1024)
       |             / ((CAST(1024 AS DOUBLE) - n_registers) + pw) <= 2560.0
       |           AND (CAST(1024 AS DOUBLE) - n_registers) > 0
       |        THEN CAST(1024 AS DOUBLE) * ln(CAST(1024 AS DOUBLE) / (CAST(1024 AS DOUBLE) - n_registers))
       |      ELSE (CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 1024) * 1024 * 1024)
       |             / ((CAST(1024 AS DOUBLE) - n_registers) + pw)
       |      END, 6) AS est
       |  FROM ag)""".stripMargin
  }

  /** SQL expression for the packed `planes`-bit SRP signature of `vExpr`
    * (a DOUBLE[] column) — bit j set when <v, plane_j> > 0, exactly
    * [[graft.functions.SrpSignature]]'s packing. */
  private def srpSigSql(vExpr: String, planes: Int, dim: Int): String =
    (0 until planes).map { j =>
      s"(CASE WHEN list_dot_product($vExpr, ${srpPlaneLit(j, dim)}) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** The banded-bucket candidate legs of [[Dedup.bucketCandidates]] in SQL
    * over a `bb(id, band, bucket)` CTE: size each (band, bucket), all-pairs
    * inside buckets <= `maxBucketSize`, star pairs to bmin/bmax inside hot
    * ones, distinct union — the exact operator shape, both legs. */
  private val bucketCandidatesSql: String =
    """sized AS (
      |  SELECT band, bucket, count(*) AS bsz, min(id) AS bmin, max(id) AS bmax
      |  FROM bb GROUP BY 1, 2),
      |bj AS (SELECT bb.id, bb.band, bb.bucket, s.bsz, s.bmin, s.bmax
      |  FROM bb JOIN sized s USING (band, bucket)),
      |cand AS (
      |  SELECT DISTINCT id_a, id_b FROM (
      |    SELECT a.id AS id_a, b.id AS id_b
      |    FROM bj a JOIN bj b ON a.band = b.band AND a.bucket = b.bucket
      |      AND a.id < b.id
      |    WHERE a.bsz <= 256
      |    UNION ALL
      |    SELECT bmin AS id_a, id AS id_b FROM bj WHERE bsz > 256 AND id <> bmin
      |    UNION ALL
      |    SELECT id AS id_a, bmax AS id_b FROM bj WHERE bsz > 256 AND id <> bmax))""".stripMargin

  /** The full x06 pair query — also the pair-generation CTE of x12's
    * recursive-closure oracle. */
  private val minhashPairsPortableSql: String =
    ("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000,
        |    array_to_string(list_slice(toks, 1, CAST(floor(len(toks) * 0.8) AS INT)), ' ')
        |  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |        FROM documents WHERE doc_id < 50)),
        |tok AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |        FROM corpus),
        |shs AS (SELECT doc_id,
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 2),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END AS shingles
        |  FROM tok),
        |sh AS (SELECT doc_id,
        |    list_distinct(list_transform(shingles,
        |      s -> CAST('0x' || substring(md5(s), 1, 15) AS BIGINT))) AS sh
        |  FROM shs),
        |sig AS (SELECT doc_id, list_transform(range(0, 32), j ->
        |    list_min(list_transform(sh, h -> CAST('0x' || substring(
        |      md5(CAST(j AS VARCHAR) || ':' || CAST(h AS VARCHAR)), 1, 15) AS BIGINT)))) AS sig
        |  FROM sh),
        |bb AS (SELECT doc_id AS id, CAST(b AS INT) AS band,
        |    array_to_string(list_slice(sig, CAST(b AS INT) * 4 + 1, CAST(b AS INT) * 4 + 4), ',') AS bucket
        |  FROM sig CROSS JOIN range(0, 8) r(b)),
        |""".stripMargin + bucketCandidatesSql + """,
        |jac AS (SELECT c.id_a, c.id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b)
        |SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard
        |FROM jac WHERE jaccard >= 0.4 ORDER BY id_a, id_b""".stripMargin)

  /** 60-bit md5-family SimHash of a `hs` (per-token 60-bit hash list)
    * column — bit b set when the token occurrences' +-1 votes on bit b
    * sum positive ([[graft.functions.Md5SimHash60]]'s packing). */
  private val md5Simhash60Sql: String =
    (0 until 60).map { b =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private val oracleBase: Map[String, String] = Map(

    "x05_fingerprint" ->
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |        FROM documents),
        |shs AS (SELECT doc_id,
        |    CASE WHEN len(toks) <= 8 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 7),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 8), ' ')) END AS shingles
        |  FROM tok),
        |h AS (SELECT doc_id,
        |    unnest(list_transform(shingles, s -> CAST('0x' || substring(md5(s), 1, 15) AS BIGINT))) AS h
        |  FROM shs)
        |SELECT doc_id, min(h) AS fp_min, max(h) AS fp_max, bit_xor(h) AS fp_xor
        |FROM h GROUP BY doc_id""".stripMargin,

    "x06_minhash_pairs" -> minhashPairsPortableSql,

    "x07_simhash_pairs" ->
      (s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000,
         |    array_to_string(list_slice(toks, 1, CAST(floor(len(toks) * 0.8) AS INT)), ' ')
         |  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS toks
         |        FROM documents WHERE doc_id < 50)),
         |tok AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS toks
         |        FROM corpus),
         |tokh AS (SELECT doc_id,
         |    list_transform(toks, t -> CAST('0x' || substring(md5(t), 1, 15) AS BIGINT)) AS hs
         |  FROM tok WHERE len(toks) > 0),
         |sim AS (SELECT doc_id, $md5Simhash60Sql AS simhash FROM tokh),
         |bb AS (
         |  ${(0 until 4).map(b =>
              s"SELECT doc_id AS id, $b AS band, (simhash // ${1L << (b * 15)}) % 32768 AS bucket FROM sim")
              .mkString("\n  UNION ALL ")}),
         |""".stripMargin + bucketCandidatesSql + """
         |SELECT c.id_a, c.id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM cand c JOIN sim a ON a.doc_id = c.id_a JOIN sim b ON b.doc_id = c.id_b
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |ORDER BY c.id_a, c.id_b""".stripMargin),

    "x12_dedup_clusters" ->
      (s"""WITH RECURSIVE pairs AS (
         |$minhashPairsPortableSql),
         |und AS (SELECT id_a AS s, id_b AS d FROM pairs
         |        UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT s AS id FROM und),
         |reach AS (
         |  SELECT id AS s, id AS d FROM nodes
         |  UNION
         |  SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s)
         |SELECT s AS id, min(d) AS cluster_id FROM reach GROUP BY s ORDER BY id""".stripMargin),

    "x10_knn_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sig AS (SELECT vec_id, v, ${srpSigSql("v", 6, 64)} AS bucket FROM e),
         |q AS (SELECT v AS qvec, bucket AS qb FROM sig WHERE vec_id = 0),
         |probes AS (
         |  SELECT DISTINCT xor(CAST(qb AS BIGINT), CAST(f AS BIGINT)) AS bucket, qvec
         |  FROM q CROSS JOIN (VALUES (0),(1),(2),(4),(8),(16),(32)) t(f)),
         |cand AS (
         |  SELECT s.vec_id, s.v, p.qvec
         |  FROM sig s JOIN probes p ON CAST(s.bucket AS BIGINT) = p.bucket)
         |SELECT vec_id, ROUND(list_cosine_similarity(v, qvec), 6) AS cosine_sim
         |FROM cand ORDER BY cosine_sim DESC, vec_id LIMIT 20""".stripMargin,

    "x19_embedding_dedup_lsh" ->
      (s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |corpus AS (
         |  SELECT vec_id, v FROM base
         |  UNION ALL
         |  SELECT vec_id + 10000,
         |    list_transform(range(0, len(v)), i -> v[i + 1] * (1.0 + 0.05 * ((i % 3) - 1)))
         |  FROM base WHERE vec_id < 25),
         |sig AS (SELECT vec_id, v, ${srpSigSql("v", 32, 64)} AS sg FROM corpus),
         |bb AS (
         |  ${(0 until 4).map(b =>
            s"SELECT vec_id AS id, $b AS band, (sg // ${1L << (b * 8)}) % 256 AS bucket FROM sig")
            .mkString("\n  UNION ALL ")}),
         |""".stripMargin + bucketCandidatesSql + """
         |SELECT c.id_a, c.id_b,
         |  ROUND(list_cosine_similarity(va.v, vb.v), 6) AS cosine_sim
         |FROM cand c
         |JOIN corpus va ON va.vec_id = c.id_a
         |JOIN corpus vb ON vb.vec_id = c.id_b
         |WHERE ROUND(list_cosine_similarity(va.v, vb.v), 6) >= 0.9
         |ORDER BY c.id_a, c.id_b""".stripMargin),

    // NOTE: the shared CTEs are concatenated AFTER their own stripMargin —
    // interpolating them under an outer stripMargin would re-strip any CTE
    // line whose content begins with whitespace + '|' (the '||' concats)
    "x88_logreg_train" ->
      ("WITH " + logRegCtes + "\n" +
        """SELECT epoch, bucket, weight FROM (
          |  SELECT 1 AS epoch, CAST(b AS INT) AS bucket, w AS weight FROM w1
          |  UNION ALL SELECT 1, -1, w FROM b1
          |  UNION ALL SELECT 2, CAST(b AS INT), w FROM w2
          |  UNION ALL SELECT 2, -1, w FROM b2
          |  UNION ALL SELECT 3, CAST(b AS INT), w FROM w3
          |  UNION ALL SELECT 3, -1, w FROM b3)
          |ORDER BY epoch, bucket""".stripMargin),

    "x90_logreg_gate" ->
      ("WITH " + logRegCtes + ",\n" +
        """zf AS (SELECT f.doc_id, (SELECT w FROM b3) + sum(w3.w) AS z,
          |         count(*) AS nf
          |       FROM feats f JOIN w3 ON f.b = w3.b GROUP BY f.doc_id)
          |SELECT doc_id, CAST(nf AS INT) AS n_features,
          |  ROUND(1.0 / (1.0 + exp(-z)), 6) AS score,
          |  (ROUND(1.0 / (1.0 + exp(-z)), 6) > 0.5) AS label
          |FROM zf ORDER BY doc_id""".stripMargin),

    "x01_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text, lang, source, n_chars FROM documents WHERE doc_id < 50)
        |SELECT min(doc_id) AS doc_id, count(*) AS dup_count
        |FROM corpus GROUP BY text""".stripMargin,

    "x02_token_stats" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS char_len,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS token_cnt
        |FROM documents""".stripMargin,

    "x14_subword_count" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS token_cnt,
        |  CAST(len(regexp_extract_all(text,
        |    '[^a-zA-Z0-9\s](?:[a-zA-Z]+|[0-9]+)?|[a-zA-Z]+|[0-9]+')) AS BIGINT) AS subword_cnt
        |FROM documents""".stripMargin,

    "x03_text_quality" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS char_len,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS token_cnt,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nonspace_len,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        x -> x IN ('the','a','an','of','to','and','in','is'))) AS stopword_cnt,
        |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT) AS punct_cnt,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha_len,
        |    CAST(length(text) AS DOUBLE) AS dlen
        |  FROM documents)
        |SELECT doc_id, char_len, token_cnt,
        |  ROUND(CASE WHEN token_cnt > 0 THEN nonspace_len / token_cnt ELSE 0.0 END, 6) AS avg_token_len,
        |  stopword_cnt,
        |  ROUND(CASE WHEN token_cnt > 0 THEN CAST(stopword_cnt AS DOUBLE) / token_cnt ELSE 0.0 END, 6) AS stopword_ratio,
        |  ROUND(CASE WHEN char_len > 0 THEN alpha_len / dlen ELSE 0.0 END, 6) AS alpha_ratio,
        |  ROUND(greatest(0.0, least(1.0,
        |    0.4 * least(CAST(token_cnt AS DOUBLE) / 50.0, 1.0)
        |    + 0.3 * (CASE WHEN char_len > 0 THEN alpha_len / dlen ELSE 0.0 END)
        |    + 0.2 * least((CASE WHEN token_cnt > 0 THEN CAST(stopword_cnt AS DOUBLE) / token_cnt ELSE 0.0 END) * 5.0, 1.0)
        |    + 0.1 * (1.0 - least((CASE WHEN char_len > 0 THEN CAST(punct_cnt AS DOUBLE) / dlen ELSE 0.0 END) * 5.0, 1.0)))), 6) AS quality_score
        |FROM base""".stripMargin,

    "x04_langid" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        x -> x IN ('the','a','of','and','to','in','is','that'))) AS score_en,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        x -> x IN ('der','die','das','und','ist','ein','nicht','mit'))) AS score_de,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        x -> x IN ('le','la','les','et','est','un','une','pas'))) AS score_fr,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        x -> x IN ('el','la','los','y','es','un','una','no'))) AS score_es
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN score_en > 0 AND score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
        |       WHEN score_de > 0 AND score_de >= score_en AND score_de >= score_fr AND score_de >= score_es THEN 'de'
        |       WHEN score_fr > 0 AND score_fr >= score_en AND score_fr >= score_de AND score_fr >= score_es THEN 'fr'
        |       WHEN score_es > 0 AND score_es >= score_en AND score_es >= score_de AND score_es >= score_fr THEN 'es'
        |       ELSE 'unknown' END AS predicted_lang,
        |  (CASE WHEN score_en > 0 AND score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
        |        WHEN score_de > 0 AND score_de >= score_en AND score_de >= score_fr AND score_de >= score_es THEN 'de'
        |        WHEN score_fr > 0 AND score_fr >= score_en AND score_fr >= score_de AND score_fr >= score_es THEN 'fr'
        |        WHEN score_es > 0 AND score_es >= score_en AND score_es >= score_de AND score_es >= score_fr THEN 'es'
        |        ELSE 'unknown' END = lang) AS lang_match
        |FROM scored""".stripMargin,

    "x08_ngram_jaccard" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000,
        |    array_to_string(list_slice(toks, 1, CAST(floor(len(toks) * 0.8) AS INT)), ' ')
        |  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |        FROM documents WHERE doc_id < 50)),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 2),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END) AS shset
        |  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |        FROM corpus)),
        |pairs AS (SELECT doc_id - 10000 AS id_a, doc_id AS id_b FROM corpus WHERE doc_id >= 10000)
        |SELECT p.id_a, p.id_b,
        |  ROUND(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.shset, b.shset))), 6) AS jaccard
        |FROM pairs p
        |JOIN sh a ON a.doc_id = p.id_a
        |JOIN sh b ON b.doc_id = p.id_b""".stripMargin,

    "x26_cluster_resolution" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, toks FROM tok
        |  UNION ALL
        |  SELECT doc_id + 10000, list_slice(toks, 1, CAST(floor(len(toks) * 0.8) AS INT))
        |  FROM tok WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 20000, list_slice(toks, 1, CAST(floor(len(toks) * 0.6) AS INT))
        |  FROM tok WHERE doc_id < 50),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 2),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END) AS shset
        |  FROM corpus),
        |cand AS (
        |  SELECT doc_id AS id_a, doc_id + 10000 AS id_b FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 10000, doc_id + 20000 FROM documents WHERE doc_id < 50),
        |pairs AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |  WHERE ROUND(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.shset, b.shset))), 6) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
        |SELECT id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,

    // x103: the x26 recursive-CTE oracle extended with the singleton
    // coalesce + md5-nibble split tail (the x56 extension precedent)
    "x103_leakage_safe_split" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, toks FROM tok
        |  UNION ALL
        |  SELECT doc_id + 10000, list_slice(toks, 1, CAST(floor(len(toks) * 0.8) AS INT))
        |  FROM tok WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 20000, list_slice(toks, 1, CAST(floor(len(toks) * 0.6) AS INT))
        |  FROM tok WHERE doc_id < 50),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 2),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END) AS shset
        |  FROM corpus),
        |cand AS (
        |  SELECT doc_id AS id_a, doc_id + 10000 AS id_b FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 10000, doc_id + 20000 FROM documents WHERE doc_id < 50),
        |pairs AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |  WHERE ROUND(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.shset, b.shset))), 6) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |k AS (
        |  SELECT c.doc_id,
        |    CAST(coalesce(l.cluster_id, c.doc_id) AS VARCHAR) AS cluster_key
        |  FROM corpus c LEFT JOIN lab l ON l.id = c.doc_id),
        |b AS (
        |  SELECT doc_id, cluster_key,
        |    CAST(('0x' || substring(md5(cluster_key), 32, 1)) AS BIGINT) AS bkt
        |  FROM k)
        |SELECT doc_id, cluster_key,
        |  CASE WHEN bkt < 12 THEN 'train' WHEN bkt < 14 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    // x56: the x26 oracle extended with the corpus length join + per-
    // cluster aggregation (original rows use raw text length; the
    // synthesized prefix members use their token-joined text length,
    // exactly what the Spark fixture built)
    "x56_cluster_manifest" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, text, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, toks, CAST(len(text) AS BIGINT) AS chars FROM tok
        |  UNION ALL
        |  SELECT doc_id + 10000, list_slice(toks, 1, CAST(floor(len(toks) * 0.8) AS INT)),
        |    CAST(len(array_to_string(list_slice(toks, 1, CAST(floor(len(toks) * 0.8) AS INT)), ' ')) AS BIGINT)
        |  FROM tok WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 20000, list_slice(toks, 1, CAST(floor(len(toks) * 0.6) AS INT)),
        |    CAST(len(array_to_string(list_slice(toks, 1, CAST(floor(len(toks) * 0.6) AS INT)), ' ')) AS BIGINT)
        |  FROM tok WHERE doc_id < 50),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 2),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END) AS shset
        |  FROM corpus),
        |cand AS (
        |  SELECT doc_id AS id_a, doc_id + 10000 AS id_b FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 10000, doc_id + 20000 FROM documents WHERE doc_id < 50),
        |pairs AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |  WHERE ROUND(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.shset, b.shset))), 6) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT l.cluster_id,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  max(l.id) AS max_id,
        |  CAST(sum(c.chars) AS BIGINT) AS chars_total,
        |  CAST(sum(c.chars) - sum(CASE WHEN l.id = l.cluster_id THEN c.chars ELSE 0 END) AS BIGINT)
        |    AS chars_saved
        |FROM labels l JOIN corpus c ON c.doc_id = l.id
        |GROUP BY l.cluster_id
        |ORDER BY l.cluster_id""".stripMargin,

    "x36_dedup_apply" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, toks FROM tok
        |  UNION ALL
        |  SELECT doc_id + 10000, list_slice(toks, 1, CAST(floor(len(toks) * 0.8) AS INT))
        |  FROM tok WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 20000, list_slice(toks, 1, CAST(floor(len(toks) * 0.6) AS INT))
        |  FROM tok WHERE doc_id < 50),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 2),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END) AS shset
        |  FROM corpus),
        |cand AS (
        |  SELECT doc_id AS id_a, doc_id + 10000 AS id_b FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 10000, doc_id + 20000 FROM documents WHERE doc_id < 50),
        |pairs AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |  WHERE ROUND(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.shset, b.shset))), 6) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT c.doc_id, l.id IS NOT NULL AS clustered
        |FROM corpus c LEFT JOIN labels l ON c.doc_id = l.id
        |WHERE l.id IS NULL OR l.cluster_id = c.doc_id""".stripMargin,

    "x35_paragraph_dedup" ->
      """WITH seed AS (
        |  SELECT doc_id, regexp_replace(text, '\n+', ' ', 'g') AS text FROM documents),
        |c AS (
        |  SELECT doc_id, text,
        |    coalesce(lead(text) OVER (ORDER BY doc_id),
        |      first_value(text) OVER (ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS nxt
        |  FROM seed),
        |paras AS (
        |  SELECT doc_id, 0 AS pos, text AS para FROM c
        |  UNION ALL SELECT doc_id, 1, nxt FROM c),
        |ranked AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |  FROM paras)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(CASE WHEN rn = 1 THEN len(para) END), 0) AS BIGINT) AS kept_chars
        |FROM ranked GROUP BY doc_id""".stripMargin,

    "x46_bench_jaccard" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 2),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END) AS shset
        |  FROM tok),
        |docsh AS (SELECT doc_id, unnest(shset) AS s, len(shset) AS sz FROM sh),
        |benchsh AS (SELECT doc_id AS bid, s, sz AS bsz FROM docsh WHERE doc_id < 20),
        |pairs AS (
        |  SELECT d.doc_id, b.bid, count(*) AS inter, max(d.sz) AS sz, max(b.bsz) AS bsz
        |  FROM docsh d JOIN benchsh b ON d.s = b.s
        |  GROUP BY d.doc_id, b.bid),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_bench_matched,
        |    ROUND(max(inter * 1.0 / (sz + bsz - inter)), 6) AS max_jaccard
        |  FROM pairs GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(s.n_bench_matched, 0) AS n_bench_matched,
        |  COALESCE(s.max_jaccard, 0.0) AS max_jaccard
        |FROM documents d LEFT JOIN scored s USING (doc_id)""".stripMargin,

    "x45_dataset_diff" ->
      """WITH v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' revised' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 90000, 'new doc ' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id < 20),
        |diff AS (
        |  SELECT coalesce(a.doc_id, b.doc_id) AS id,
        |    CASE WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN a.text = b.text THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT status, CAST(count(*) AS BIGINT) AS n FROM diff GROUP BY status""".stripMargin,

    "x44_domain_stats" ->
      """WITH corpus AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN ' see https://site' || CAST(doc_id % 6 AS VARCHAR) || '.example.com/page'
        |      ELSE '' END AS text
        |  FROM documents),
        |dom AS (
        |  SELECT doc_id, regexp_extract(text, 'https?://([^/\s]+)', 1) AS domain
        |  FROM corpus),
        |hits AS (SELECT * FROM dom WHERE domain <> '')
        |SELECT domain,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_urls,
        |  domain = 'site0.example.com' AS blocked
        |FROM hits GROUP BY domain""".stripMargin,

    "x47_length_quantiles" ->
      """WITH m AS (
        |  SELECT source, CAST(len(text) AS DOUBLE) AS l,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0)) AS DOUBLE) AS tk
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  ROUND(quantile_cont(l, 0.25), 6) AS len_p25,
        |  ROUND(quantile_cont(l, 0.5), 6) AS len_p50,
        |  ROUND(quantile_cont(l, 0.75), 6) AS len_p75,
        |  ROUND(quantile_cont(l, 0.95), 6) AS len_p95,
        |  ROUND(quantile_cont(tk, 0.25), 6) AS tok_p25,
        |  ROUND(quantile_cont(tk, 0.5), 6) AS tok_p50,
        |  ROUND(quantile_cont(tk, 0.75), 6) AS tok_p75,
        |  ROUND(quantile_cont(tk, 0.95), 6) AS tok_p95,
        |  TRUE AS len_sketch_ok,
        |  TRUE AS tok_sketch_ok
        |FROM m GROUP BY source""".stripMargin,

    // Exact-duplicate incremental-dedup fixture: at threshold 0.999 the
    // survivor set is text-group-min over the union (identical normalized
    // text <=> identical shingle sets <=> Jaccard exactly 1.0; nothing
    // else reaches 0.999), replayed here with window functions over the
    // same normalized-text corpus construction as the Spark side.
    "x48_incremental_dedup" ->
      """WITH norm AS (
        |  SELECT doc_id, array_to_string(
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0),
        |    ' ') AS text
        |  FROM documents
        |  WHERE doc_id < 500
        |    AND len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0)) > 0),
        |fresh AS (
        |  SELECT doc_id + 40000 AS doc_id,
        |    'fresh shard document number ' || CAST(doc_id AS VARCHAR) ||
        |      ' with filler tokens for stable shingles' AS text
        |  FROM norm WHERE doc_id < 10),
        |u AS (
        |  SELECT doc_id, text, 1 AS batch FROM norm
        |  UNION ALL
        |  SELECT doc_id + 10000, text, 1 FROM norm WHERE doc_id < 30
        |  UNION ALL
        |  SELECT doc_id + 20000, text, 2 FROM norm WHERE doc_id < 40
        |  UNION ALL SELECT doc_id, text, 2 FROM fresh
        |  UNION ALL SELECT doc_id + 10000, text, 2 FROM fresh)
        |SELECT doc_id, batch,
        |  CASE WHEN count(*) OVER (PARTITION BY text) > 1
        |    THEN min(doc_id) OVER (PARTITION BY text)
        |    ELSE doc_id END AS cluster_id,
        |  doc_id = min(doc_id) OVER (PARTITION BY text) AS survived
        |FROM u""".stripMargin,

    // x49's booleans are Spark-side frame-equality facts (incremental
    // index state vs full-union labels — both xxhash-deterministic); the
    // oracle pins the deterministic corpus arithmetic plus the required
    // TRUE outcomes, the x17/x47 agreement-boolean pattern.
    "x49_incremental_vs_full" ->
      """SELECT
        |  CAST((SELECT count(*) FROM documents WHERE doc_id < 300) + 50 AS BIGINT)
        |    AS n_union,
        |  CAST(50 AS BIGINT) AS n_batch2,
        |  TRUE AS state_matches_full,
        |  TRUE AS exact_copies_all_dropped""".stripMargin,

    // x50's booleans are Spark-side frame-equality / plan-shape facts
    // (k-means lists are trainer-dependent, so per-row results stay
    // rows-only in x27); the oracle pins the corpus arithmetic plus the
    // required TRUE outcomes.
    "x50_ivf_append" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_appended,
        |  CAST(5 AS BIGINT) AS n_queries,
        |  TRUE AS append_matches_full,
        |  TRUE AS partition_pruned
        |FROM embeddings""".stripMargin,

    "x69_ivf_delete" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(sum(CASE WHEN vec_id % 10 <= 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_deleted,
        |  CAST(count(*) - sum(CASE WHEN vec_id % 10 <= 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_live_after_compact,
        |  TRUE AS delete_masks_search,
        |  TRUE AS compact_preserves_answers,
        |  TRUE AS tombstones_cleared,
        |  TRUE AS partition_pruned
        |FROM embeddings""".stripMargin,

    // x51: the published-as-of-b2 and current label views are both
    // text-group window minima over deterministic exact-copy fixtures
    // (same first-principles replay as x48); the feed is their diff.
    "x51_republish_delta" ->
      """WITH norm AS (
        |  SELECT doc_id, array_to_string(
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0),
        |    ' ') AS text
        |  FROM documents
        |  WHERE doc_id < 10
        |    AND len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0)) > 0),
        |pub AS (
        |  SELECT doc_id + 500 AS doc_id, text FROM norm
        |  UNION ALL SELECT doc_id + 1500, text FROM norm
        |  UNION ALL SELECT doc_id + 2500, text FROM norm),
        |full_u AS (
        |  SELECT doc_id, text FROM pub
        |  UNION ALL SELECT doc_id + 5, text FROM norm WHERE doc_id < 5),
        |old_l AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS old_cluster
        |  FROM pub),
        |new_l AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS new_cluster
        |  FROM full_u)
        |SELECT o.doc_id AS id, o.old_cluster, n.new_cluster,
        |  TRUE AS append_retracted_nothing
        |FROM old_l o JOIN new_l n ON o.doc_id = n.doc_id
        |WHERE o.old_cluster <> n.new_cluster
        |ORDER BY id""".stripMargin,

    "x43_source_kl" ->
      """WITH tok AS (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |stf AS (SELECT source, token, count(*) AS stf FROM tok GROUP BY 1, 2),
        |stot AS (SELECT source, sum(stf) AS stot FROM stf GROUP BY 1),
        |gtf AS (SELECT token, sum(stf) AS gtf FROM stf GROUP BY 1),
        |gtot AS (SELECT sum(gtf) AS gtot FROM gtf)
        |SELECT s.source, CAST(max(t.stot) AS BIGINT) AS n_tokens,
        |  ROUND(sum((s.stf * 1.0 / t.stot) *
        |    ln((s.stf * 1.0 / t.stot) / (g.gtf * 1.0 / gtot.gtot))), 6) AS kl
        |FROM stf s JOIN stot t USING (source) JOIN gtf g USING (token) CROSS JOIN gtot
        |GROUP BY s.source""".stripMargin,

    "x42_unigram_nll" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
        |tot AS (SELECT count(*) AS total FROM tok)
        |SELECT t.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  ROUND(-avg(ln(tf.tf * 1.0 / tot.total)), 6) AS unigram_nll
        |FROM tok t JOIN tf ON t.token = tf.token CROSS JOIN tot
        |GROUP BY t.doc_id""".stripMargin,

    "x41_common_paragraphs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || chr(10) || 'shared footer alpha'
        |         WHEN doc_id % 7 = 0 THEN chr(10) || chr(10) || 'shared footer beta'
        |         ELSE '' END AS text
        |  FROM documents),
        |paras AS (
        |  SELECT doc_id, unnest(string_split(text, chr(10) || chr(10))) AS para
        |  FROM corpus)
        |SELECT para, CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM paras GROUP BY para
        |ORDER BY n_occurrences DESC, para LIMIT 5""".stripMargin,

    "x40_paragraph_reassembly" ->
      """WITH seed AS (
        |  SELECT doc_id, regexp_replace(text, '\n+', ' ', 'g') AS text FROM documents),
        |c AS (
        |  SELECT doc_id, text,
        |    coalesce(lead(text) OVER (ORDER BY doc_id),
        |      first_value(text) OVER (ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS nxt
        |  FROM seed),
        |paras AS (
        |  SELECT doc_id, 0 AS pos, text AS para FROM c
        |  UNION ALL SELECT doc_id, 1, nxt FROM c),
        |ranked AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |  FROM paras)
        |SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
        |FROM ranked WHERE rn = 1 GROUP BY doc_id""".stripMargin,

    "x39_bigram_topk" ->
      """WITH tok AS (
        |  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> {'p': toks[i], 'n': toks[i+1]})) AS z
        |  FROM tok WHERE len(toks) >= 2),
        |counts AS (
        |  SELECT z.p AS prefix, z.n AS next_token, count(*) AS pair_freq
        |  FROM bg GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY prefix ORDER BY pair_freq DESC, next_token) AS rn
        |  FROM counts)
        |SELECT prefix, next_token, pair_freq FROM ranked WHERE rn <= 3""".stripMargin,

    "x38_mixture_sample" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS token_cnt
        |  FROM documents),
        |tot AS (SELECT source, sum(token_cnt) AS stratum_tokens FROM tok GROUP BY source),
        |rated AS (
        |  SELECT t.doc_id, t.source, t.token_cnt,
        |    least(1.0, 600.0 / tot.stratum_tokens) AS mix_rate
        |  FROM tok t JOIN tot USING (source)),
        |sampled AS (SELECT * FROM rated WHERE doc_id % 100 < round(mix_rate * 100))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_sampled,
        |  CAST(sum(token_cnt) AS BIGINT) AS tokens_sampled,
        |  ROUND(max(mix_rate), 6) AS mix_rate
        |FROM sampled GROUP BY source""".stripMargin,

    "x37_hash_split" ->
      """SELECT CASE WHEN b <= 14 THEN 'train' WHEN b = 15 THEN 'val'
        |            ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(text)) AS BIGINT) AS total_chars
        |FROM (SELECT text, instr('0123456789abcdef', substr(md5(text), 32, 1)) AS b
        |      FROM documents)
        |GROUP BY 1""".stripMargin,

    // x54: DuckDB groups by text (digest-vs-text equivalence as in x01)
    // and replays the survivor election with a priority-ordered window
    "x54_priority_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, text, 1 AS priority FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text, 10 FROM documents WHERE doc_id % 3 = 0),
        |r AS (
        |  SELECT doc_id, priority,
        |    CAST(count(*) OVER (PARTITION BY text) AS BIGINT) AS dup_count,
        |    row_number() OVER (PARTITION BY text
        |      ORDER BY priority DESC, doc_id) AS rn
        |  FROM u)
        |SELECT doc_id, priority, dup_count FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    // x53: DuckDB rebuilds the x03 quality score, cuts quintiles with
    // quantile_cont (same linear interpolation as Spark's percentile),
    // buckets via list_filter, and replays the mod-keep arithmetic
    "x53_curriculum_sample" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS token_cnt,
        |    ROUND(greatest(0.0, least(1.0,
        |      0.4 * least(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> len(x) > 0)) AS DOUBLE) / 50.0, 1.0)
        |      + 0.3 * (CASE WHEN length(text) > 0
        |          THEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |            / length(text) ELSE 0.0 END)
        |      + 0.2 * least((CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'),
        |            x -> len(x) > 0)) > 0
        |          THEN CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |            x -> x IN ('the','a','an','of','to','and','in','is'))) AS DOUBLE)
        |            / len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0))
        |          ELSE 0.0 END) * 5.0, 1.0)
        |      + 0.1 * (1.0 - least((CASE WHEN length(text) > 0
        |          THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |            / length(text) ELSE 0.0 END) * 5.0, 1.0)))), 6) AS quality_score
        |  FROM documents),
        |th AS (
        |  SELECT quantile_cont(quality_score, [0.2, 0.4, 0.6, 0.8]) AS cuts
        |  FROM base),
        |bucketed AS (
        |  SELECT doc_id, token_cnt,
        |    len(list_filter((SELECT cuts FROM th), x -> quality_score > x)) AS bucket
        |  FROM base),
        |rated AS (
        |  SELECT doc_id, token_cnt, bucket,
        |    ([0.1, 0.2, 0.4, 0.7, 1.0])[bucket + 1] AS rate
        |  FROM bucketed)
        |SELECT CAST(bucket AS INT) AS bucket, rate,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 100 < round(rate * 100) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(CASE WHEN doc_id % 100 < round(rate * 100) THEN token_cnt ELSE 0 END) AS BIGINT)
        |    AS tokens_kept
        |FROM rated
        |GROUP BY 1, 2
        |ORDER BY bucket""".stripMargin,

    // x52: DuckDB rebuilds the md5 shuffle key and replays shard (first
    // four hex nibbles mod 8) and within-shard position exactly
    "x52_corpus_shuffle" ->
      """WITH keyed AS (
        |  SELECT doc_id, md5('42_' || CAST(doc_id AS VARCHAR)) AS k
        |  FROM documents),
        |sharded AS (
        |  SELECT doc_id, k, CAST(
        |    ((((instr('0123456789abcdef', substr(k, 1, 1)) - 1) * 16
        |      + (instr('0123456789abcdef', substr(k, 2, 1)) - 1)) * 16
        |      + (instr('0123456789abcdef', substr(k, 3, 1)) - 1)) * 16
        |      + (instr('0123456789abcdef', substr(k, 4, 1)) - 1)) % 8
        |    AS INT) AS shard
        |  FROM keyed)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) - 1
        |    AS BIGINT) AS pos
        |FROM sharded
        |ORDER BY shard, pos""".stripMargin,

    "x16_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE doc_id % 100 < round((CASE WHEN lang = 'en' THEN 0.5
        |                           WHEN lang = 'de' THEN 0.25
        |                           ELSE 0.1 END) * 100)""".stripMargin,

    // the HLL++ values themselves are engine-specific; the oracle checks
    // the exact counts and that the 5% error bound HELD (literal TRUE —
    // a Spark-side sketch drifting past its advertised bound goes red)
    "x17_approx_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  TRUE AS orders_within_5pct,
        |  TRUE AS parts_within_5pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "x13_embedding_stats" ->
      """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        |  ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS l2_norm,
        |  ROUND(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding), 6) AS vec_mean,
        |  label
        |FROM embeddings""".stripMargin,

    "x22_contamination" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 2),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END)) AS sh
        |  FROM tok),
        |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 20)
        |SELECT s.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(count(b.sh) AS BIGINT) AS n_hits,
        |  ROUND(count(b.sh) * 1.0 / count(*), 6) AS contamination
        |FROM sh s LEFT JOIN bench b ON s.sh = b.sh
        |GROUP BY 1""".stripMargin,

    // x55: paragraphs rebuilt synthetically on both sides; DuckDB replays
    // the per-paragraph n-gram hit test with string shingles (identical
    // decisions to the hashed path barring a ~2^-64 collision — the x22
    // argument) and reassembles survivors with an ordered string_agg
    "x57_repeated_spans" ->
      """WITH docs AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 3 = 0
        |    THEN ' graftspan0 graftspan1 graftspan2 graftspan3 graftspan4 graftspan5'
        |    ELSE '' END AS text
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM docs),
        |spans AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(list_slice(toks, i + 1, i + 5), ' ') AS gram
        |  FROM tok, UNNEST(CASE WHEN len(toks) >= 5
        |    THEN range(0, len(toks) - 4) ELSE [] END) AS u(i)),
        |freq AS (SELECT gram FROM spans GROUP BY gram HAVING count(*) >= 3),
        |hits AS (SELECT s.doc_id, s.pos FROM spans s JOIN freq USING (gram)),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + d AS rm
        |  FROM hits, UNNEST(range(0, 5)) AS u(d)),
        |tokpos AS (
        |  SELECT doc_id, i AS pos, toks[CAST(i + 1 AS INT)] AS tok
        |  FROM tok, UNNEST(CASE WHEN len(toks) > 0
        |    THEN range(0, len(toks)) ELSE [] END) AS u(i)),
        |clean AS (
        |  SELECT tp.doc_id,
        |    sum(CASE WHEN c.rm IS NOT NULL THEN 1 ELSE 0 END) AS n_removed,
        |    coalesce(string_agg(CASE WHEN c.rm IS NULL THEN tp.tok END,
        |      ' ' ORDER BY tp.pos), '') AS clean_text
        |  FROM tokpos tp
        |  LEFT JOIN cov c ON tp.doc_id = c.doc_id AND tp.pos = c.rm
        |  GROUP BY tp.doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(c.n_removed, 0) AS BIGINT) AS n_removed,
        |  coalesce(c.clean_text, '') AS clean_text
        |FROM tok t LEFT JOIN clean c USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "x58_containment" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, toks FROM base
        |  UNION ALL
        |  SELECT doc_id + 30000,
        |    list_slice(toks, CAST(floor(len(toks) * 0.3) AS INT) + 1,
        |      CAST(floor(len(toks) * 0.3) AS INT)
        |        + CAST(floor(len(toks) * 0.4) AS INT))
        |  FROM base WHERE doc_id < 50),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) <= 3
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 2),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END)
        |      AS shset
        |  FROM corpus),
        |pairs AS (
        |  SELECT doc_id - 30000 AS id_a, doc_id AS id_b
        |  FROM corpus WHERE doc_id >= 30000)
        |SELECT p.id_a, p.id_b,
        |  ROUND(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
        |    / len(a.shset), 6) AS containment_a,
        |  ROUND(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
        |    / len(b.shset), 6) AS containment_b,
        |  ROUND(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.shset, b.shset))), 6) AS jaccard
        |FROM pairs p
        |JOIN sh a ON a.doc_id = p.id_a
        |JOIN sh b ON b.doc_id = p.id_b""".stripMargin,

    "x59_bpe_pairs" ->
      """WITH wf AS (
        |  SELECT word, count(*) AS wf FROM (
        |    SELECT unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> len(x) > 0)) AS word
        |    FROM documents)
        |  GROUP BY word),
        |p AS (
        |  SELECT substr(word, CAST(i AS INT), 2) AS pair, wf
        |  FROM wf, UNNEST(CASE WHEN len(word) >= 2
        |    THEN range(1, len(word)) ELSE [] END) AS u(i)),
        |c AS (SELECT pair, CAST(sum(wf) AS BIGINT) AS pair_count
        |      FROM p GROUP BY pair)
        |SELECT pair, pair_count FROM c
        |ORDER BY pair_count DESC, pair LIMIT 30""".stripMargin,

    "x60_temperature_mix" ->
      """WITH c AS (
        |  SELECT source,
        |    sum(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0))) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT source, n_tokens,
        |        pow(CAST(n_tokens AS DOUBLE), 0.5) AS pw FROM c),
        |t AS (SELECT sum(pw) AS tot FROM w)
        |SELECT w.source, CAST(w.n_tokens AS BIGINT) AS n_tokens,
        |  ROUND(w.pw / t.tot, 6) AS weight,
        |  CAST(round(w.pw / t.tot * 200000) AS BIGINT) AS target_tokens,
        |  ROUND(least(1.0, w.pw / t.tot * 200000 / n_tokens), 6) AS rate
        |FROM w, t ORDER BY w.source""".stripMargin,

    "x61_quantized_rerank" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma
        |  FROM e),
        |codes AS (
        |  SELECT vec_id, v,
        |    CASE WHEN ma > 0 THEN ma / 127 ELSE 0 END AS scale,
        |    CASE WHEN ma > 0 THEN list_transform(v, x -> round(x * 127 / ma))
        |         ELSE list_transform(v, x -> 0.0) END AS qc
        |  FROM m),
        |qs AS (
        |  SELECT vec_id AS query_id, v AS qv, qc AS qqc, scale AS qscale
        |  FROM codes WHERE vec_id IN (0, 7, 13)),
        |approx AS (
        |  SELECT qs.query_id, c.vec_id,
        |    list_inner_product(c.qc, qs.qqc) * c.scale * qs.qscale AS a
        |  FROM codes c CROSS JOIN qs),
        |cand AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY a DESC, vec_id) AS rn
        |  FROM approx),
        |rer AS (
        |  SELECT c.query_id, c.vec_id,
        |    ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cosine_sim
        |  FROM cand c
        |  JOIN e ON e.vec_id = c.vec_id
        |  JOIN qs q ON q.query_id = c.query_id
        |  WHERE c.rn <= 32),
        |fin AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rn
        |  FROM rer)
        |SELECT query_id, vec_id, cosine_sim FROM fin WHERE rn <= 8""".stripMargin,

    "x62_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.Src' || CAST(doc_id % 40 AS VARCHAR)
        |    || '.COM:443/a/' || CAST(doc_id % 20 AS VARCHAR)
        |    || '?utm_source=feed&utm_campaign=c' || CAST(doc_id % 3 AS VARCHAR)
        |    || '&ref=' || CAST(doc_id % 10 AS VARCHAR) || '#frag' AS url
        |  FROM documents),
        |c1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS s FROM u),
        |c2 AS (SELECT doc_id,
        |         lower(regexp_extract(s, '^([a-zA-Z]+://[^/?]*)', 1))
        |         || regexp_replace(s, '^[a-zA-Z]+://[^/?]*', '') AS s
        |       FROM c1),
        |c3 AS (SELECT doc_id, regexp_replace(regexp_replace(s,
        |         '^(https://[^/:]*):443([/?]|$)', '\1\2'),
        |         '^(http://[^/:]*):80([/?]|$)', '\1\2') AS s FROM c2),
        |c4 AS (SELECT doc_id,
        |         regexp_replace(s, '([?&])(utm_[a-zA-Z0-9]+=[^&#]*&)+',
        |           '\1', 'g') AS s
        |       FROM c3),
        |c5 AS (SELECT doc_id,
        |         regexp_replace(s, '[?&]utm_[a-zA-Z0-9]+=[^&#]*$', '') AS s
        |       FROM c4),
        |c6 AS (SELECT doc_id, regexp_replace(s, '/$', '') AS canonical_url
        |       FROM c5)
        |SELECT canonical_url, min(doc_id) AS doc_id,
        |  count(*) AS dup_count
        |FROM c6 GROUP BY 1 ORDER BY 1""".stripMargin,

    "x63_line_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM documents),
    |built AS (
        |  -- coalesce each piece: DuckDB's array_to_string of an EMPTY
        |  -- list is NULL (Spark's array_join gives ''), and || propagates
        |  SELECT doc_id,
        |    coalesce(array_to_string(list_slice(toks, 1, 5), ' '), '')
        |    || chr(10) ||
        |    coalesce(array_to_string(list_slice(toks, 6, 10), ' '), '')
        |    || chr(10) ||
        |    coalesce(array_to_string(list_slice(toks, 1, 5), ' '), '')
        |    || chr(10) ||
        |    coalesce(array_to_string(list_slice(toks, 11, 15), ' '), '')
        |      AS text
        |  FROM tok),
        |l AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM built),
        |k AS (
        |  SELECT doc_id, lines,
        |    list_filter(lines, (x, i) -> list_position(lines, x) = i) AS kept
        |  FROM l)
        |SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(lines) - len(kept) AS BIGINT) AS n_removed,
        |  array_to_string(kept, chr(10)) AS clean_text
        |FROM k ORDER BY doc_id""".stripMargin,

    "x64_hashed_classifier" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, list_concat(t,
        |    list_transform(range(1, len(t)), i -> t[i] || '_' || t[i+1]))
        |    AS feats
        |  FROM tok),
        |s AS (
        |  SELECT doc_id, CAST(len(feats) AS INTEGER) AS n_features,
        |    coalesce(list_sum(list_transform(feats, f ->
        |      (CAST((CAST(('0x' || substring(md5(f), 1, 8)) AS BIGINT) % 64
        |             * 37 + 11) % 21 AS DOUBLE) - 10) / 10)), 0) AS z
        |  FROM f)
        |SELECT doc_id, n_features,
        |  ROUND(1 / (1 + exp(-(z - 0.25))), 6) AS score,
        |  (ROUND(1 / (1 + exp(-(z - 0.25))), 6) > 0.5) AS label
        |FROM s ORDER BY doc_id""".stripMargin,

    "x77_normalize_text" ->
      """WITH messy AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 2 = 0
        |    THEN ' ' || chr(8220) || 'q' || chr(8221) || ' ' || chr(8211)
        |      || ' x' || chr(8203) || 'y' || chr(7) || ' z' || chr(9)
        |      || 'w  end'
        |    ELSE '' END AS text
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(translate(
        |      regexp_replace(regexp_replace(text,
        |        '[\x00-\x08\x0b-\x1f\x7f]', '', 'g'),
        |        '[\x{200b}\x{200c}\x{200d}\x{feff}]', '', 'g'),
        |      chr(8216) || chr(8217) || chr(8220) || chr(8221)
        |        || chr(8211) || chr(8212) || chr(160),
        |      '''''""-- '),
        |      '[ \t]+', ' ', 'g')) AS normalized
        |  FROM messy)
        |SELECT doc_id, normalized, (normalized <> text) AS changed
        |FROM n ORDER BY doc_id""".stripMargin,

    "x80_html_extract" ->
      """WITH pages AS (
        |  SELECT doc_id,
        |    '<html><head><style>p {color:red}</style></head>'
        |    || '<body><h1>Doc</h1><p>' || text
        |    || '</p><script>var x="</p>";</script>'
        |    || '<!-- tail comment -->&amp;amp; &lt;tag&gt;&nbsp;fin'
        |    || '</body></html>' AS html
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(html,
        |        '(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>',
        |        ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '(?s)<[^>]+>', ' ', 'g'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |      '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
        |    '[ \t\r\n]+', ' ', 'g')) AS extracted
        |  FROM pages)
        |SELECT doc_id, extracted,
        |  CAST(len(extracted) AS INTEGER) AS extracted_chars
        |FROM e ORDER BY doc_id""".stripMargin,

    "x84_recall_at_k" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM base
        |  WHERE vec_id < 5),
        |exact AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.query_id, e.vec_id, row_number() OVER (
        |        PARTITION BY q.query_id
        |        ORDER BY ROUND(list_cosine_similarity(e.v, q.qv), 6)
        |          DESC, e.vec_id) AS rn
        |    FROM base e CROSS JOIN q)
        |  WHERE rn <= 10),
        |proj AS (
        |  SELECT vec_id, list_transform(range(0, 16), d ->
        |    ROUND(list_sum(list_transform(range(0, 64), i ->
        |      v[i + 1] * (CASE WHEN CAST(('0x' || substring(
        |          md5('rp_' || CAST(i AS VARCHAR) || '_'
        |            || CAST(d AS VARCHAR)), 1, 1)) AS INTEGER) % 2 = 0
        |        THEN 1.0 ELSE -1.0 END))) / sqrt(16.0), 6)) AS pv
        |  FROM base),
        |pq AS (
        |  SELECT p.vec_id AS query_id, p.pv AS qpv
        |  FROM proj p WHERE p.vec_id < 5),
        |approx AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT pq.query_id, p.vec_id, row_number() OVER (
        |        PARTITION BY pq.query_id
        |        ORDER BY ROUND(list_cosine_similarity(p.pv, pq.qpv), 6)
        |          DESC, p.vec_id) AS rn
        |    FROM proj p CROSS JOIN pq)
        |  WHERE rn <= 10),
        |rec AS (
        |  SELECT e.query_id, count(*) AS n_exact,
        |    count(*) FILTER (WHERE a.vec_id IS NOT NULL) AS n_hit
        |  FROM exact e
        |  LEFT JOIN approx a USING (query_id, vec_id)
        |  GROUP BY 1)
        |SELECT query_id, CAST(n_exact AS BIGINT) AS n_exact,
        |  CAST(n_hit AS BIGINT) AS n_hit,
        |  ROUND(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall
        |FROM rec ORDER BY query_id""".stripMargin,

    "x83_rrf_hybrid" ->
      """WITH q(query_id, qtext) AS (VALUES
        |  (CAST(1 AS BIGINT), 'spark window agg'),
        |  (CAST(2 AS BIGINT), 'slow query scan'),
        |  (CAST(3 AS BIGINT), 'customer table join fast')),
        |tok AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  avg(len(t)) AS avgdl FROM tok),
        |qterm AS (
        |  SELECT query_id, unnest(list_distinct(list_filter(
        |    string_split_regex(trim(lower(qtext)), '\s+'),
        |    x -> len(x) > 0))) AS term
        |  FROM q),
        |post AS (
        |  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM (
        |    SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok)
        |  WHERE term IN (SELECT term FROM qterm)
        |  GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT term, CAST(count(*) AS DOUBLE) AS df
        |  FROM post GROUP BY 1),
        |scored AS (
        |  SELECT qt.query_id, p.doc_id,
        |    ROUND(sum(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
        |      * p.tf / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
        |    ), 6) AS score
        |  FROM post p
        |  JOIN dfreq d USING (term)
        |  JOIN qterm qt USING (term)
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |bm20 AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id, row_number() OVER (
        |        PARTITION BY query_id ORDER BY score DESC, doc_id
        |      ) AS rank
        |    FROM scored)
        |  WHERE rank <= 20),
        |dterm AS (
        |  SELECT DISTINCT doc_id, w AS term
        |  FROM (SELECT doc_id, unnest(t) AS w FROM tok)),
        |ov AS (
        |  SELECT qt.query_id, d.doc_id, count(*) AS overlap
        |  FROM dterm d JOIN qterm qt USING (term)
        |  GROUP BY 1, 2),
        |ov20 AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id, row_number() OVER (
        |        PARTITION BY query_id ORDER BY overlap DESC, doc_id
        |      ) AS rank
        |    FROM ov)
        |  WHERE rank <= 20),
        |u AS (SELECT * FROM bm20 UNION ALL SELECT * FROM ov20),
        |f AS (
        |  SELECT query_id, doc_id,
        |    ROUND(sum(CAST(1.0 AS DOUBLE) / (60 + rank)), 6) AS rrf_score,
        |    count(*) AS n_lists
        |  FROM u GROUP BY 1, 2),
        |r AS (
        |  SELECT query_id, doc_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
        |    ) AS fused_rank, rrf_score, n_lists
        |  FROM f)
        |SELECT query_id, doc_id, fused_rank, rrf_score, n_lists
        |FROM r WHERE fused_rank <= 10
        |ORDER BY query_id, fused_rank""".stripMargin,

    "x82_frequent_tokens" ->
      """WITH tok AS (
        |  SELECT list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents),
        |cnt AS (
        |  SELECT w AS token, count(*) AS est
        |  FROM (SELECT unnest(t) AS w FROM tok) GROUP BY 1)
        |SELECT token, est, CAST(0 AS BIGINT) AS max_err
        |FROM cnt ORDER BY est DESC, token LIMIT 10""".stripMargin,

    "x81_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(t) AS w FROM tok),
        |v AS (SELECT w FROM (
        |    SELECT w, count(*) AS c FROM w GROUP BY 1)
        |  ORDER BY c DESC, w LIMIT 12),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    count(*) FILTER (WHERE w NOT IN (SELECT w FROM v)) AS n_oov
        |  FROM w GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(agg.n_oov, 0) AS BIGINT) AS n_oov,
        |  CASE WHEN coalesce(agg.n_tokens, 0) = 0 THEN 0.0
        |    ELSE ROUND(CAST(agg.n_oov AS DOUBLE) / agg.n_tokens, 6)
        |  END AS oov_rate
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "x78_bm25_topk" ->
      """WITH q(query_id, qtext) AS (VALUES
        |  (CAST(1 AS BIGINT), 'spark window agg'),
        |  (CAST(2 AS BIGINT), 'slow query scan'),
        |  (CAST(3 AS BIGINT), 'customer table join fast')),
        |tok AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  avg(len(t)) AS avgdl FROM tok),
        |qterm AS (
        |  SELECT query_id, unnest(list_distinct(list_filter(
        |    string_split_regex(trim(lower(qtext)), '\s+'),
        |    x -> len(x) > 0))) AS term
        |  FROM q),
        |post AS (
        |  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM (
        |    SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok)
        |  WHERE term IN (SELECT term FROM qterm)
        |  GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT term, CAST(count(*) AS DOUBLE) AS df
        |  FROM post GROUP BY 1),
        |scored AS (
        |  SELECT qt.query_id, p.doc_id,
        |    ROUND(sum(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
        |      * p.tf / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
        |    ), 6) AS score,
        |    count(*) AS n_terms
        |  FROM post p
        |  JOIN dfreq d USING (term)
        |  JOIN qterm qt USING (term)
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT query_id, doc_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id
        |    ) AS rank, score, n_terms
        |  FROM scored)
        |SELECT query_id, doc_id, rank, score, n_terms
        |FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "x79_zipf_profile" ->
      """WITH tok AS (
        |  SELECT list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents),
        |uni AS (
        |  SELECT w, count(*) AS cnt
        |  FROM (SELECT unnest(t) AS w FROM tok) GROUP BY 1),
        |totals AS (SELECT sum(cnt) AS tt, count(*) AS nv FROM uni),
        |head AS (
        |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk
        |  FROM uni ORDER BY cnt DESC, w LIMIT 50),
        |fit AS (
        |  SELECT regr_slope(ln(cnt), ln(rnk)) AS slope,
        |    sum(cnt) AS headmass
        |  FROM head)
        |SELECT CAST(totals.tt AS BIGINT) AS n_tokens,
        |  CAST(totals.nv AS BIGINT) AS n_vocab,
        |  ROUND(fit.slope, 6) AS zipf_slope,
        |  ROUND(CAST(fit.headmass AS DOUBLE) / CAST(totals.tt AS DOUBLE), 6)
        |    AS top_coverage
        |FROM fit CROSS JOIN totals""".stripMargin,

    "x76_bigram_nll" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents),
        |docbg AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM tok, unnest(range(1, len(t))) AS u(i)),
        |bg AS (SELECT w1, w2, count(*) AS c12 FROM docbg GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(c12) AS cstart FROM bg GROUP BY 1),
        |vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM
        |  (SELECT w1 AS w FROM bg UNION SELECT w2 FROM bg)),
        |s AS (
        |  SELECT d.doc_id, count(*) AS n_bigrams,
        |    ROUND(avg(-ln((bg.c12 + 0.5)
        |      / (ctx.cstart + 0.5 * (SELECT v FROM vv)))), 6) AS bigram_nll
        |  FROM docbg d
        |  JOIN bg USING (w1, w2)
        |  JOIN ctx USING (w1)
        |  GROUP BY 1)
        |SELECT t.doc_id, CAST(coalesce(s.n_bigrams, 0) AS BIGINT)
        |    AS n_bigrams,
        |  coalesce(s.bigram_nll, 0) AS bigram_nll
        |FROM (SELECT DISTINCT doc_id FROM documents) t
        |LEFT JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "x74_weighted_sample" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0)) AS INTEGER) AS n_tokens
        |  FROM documents),
        |valid AS (
        |  SELECT * FROM w WHERE n_tokens IS NOT NULL AND n_tokens > 0),
        |mx AS (SELECT CAST(max(n_tokens) AS DOUBLE) AS wmax FROM valid),
        |keyed AS (
        |  SELECT doc_id, source, n_tokens,
        |    pow(
        |      (CAST(('0x' || substring(md5('ws42_' || CAST(doc_id AS VARCHAR)),
        |         1, 13)) AS BIGINT) + 1.0) / 4503599627370497.0,
        |      wmax / n_tokens) AS rawkey
        |  FROM valid CROSS JOIN mx)
        |SELECT doc_id, source, n_tokens, ROUND(rawkey, 8) AS sample_key
        |FROM keyed ORDER BY rawkey DESC, doc_id LIMIT 100""".stripMargin,

    "x86_mojibake_repair" ->
      """WITH messy AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 2 = 0
        |    THEN ' caf' || chr(195) || chr(169) || ' don' || chr(226) || chr(8364) || chr(8482)
        |    || 't 25' || chr(194) || chr(176) || ' ni' || chr(195) || chr(177) || 'o '
        |    || chr(226) || chr(8364) || chr(166)
        |    ELSE '' END AS text
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, text,
        |    replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(text,
        |    chr(226) || chr(8364) || chr(8482), chr(8217)),
        |    chr(226) || chr(8364) || chr(732), chr(8216)),
        |    chr(226) || chr(8364) || chr(339), chr(8220)),
        |    chr(226) || chr(8364) || chr(8220), chr(8211)),
        |    chr(226) || chr(8364) || chr(8221), chr(8212)),
        |    chr(226) || chr(8364) || chr(166), chr(8230)),
        |    chr(195) || chr(161), chr(225)),
        |    chr(195) || chr(169), chr(233)),
        |    chr(195) || chr(168), chr(232)),
        |    chr(195) || chr(173), chr(237)),
        |    chr(195) || chr(179), chr(243)),
        |    chr(195) || chr(186), chr(250)),
        |    chr(195) || chr(177), chr(241)),
        |    chr(195) || chr(167), chr(231)),
        |    chr(195) || chr(164), chr(228)),
        |    chr(195) || chr(182), chr(246)),
        |    chr(195) || chr(188), chr(252)),
        |    chr(194) || chr(176), chr(176)),
        |    chr(194) || chr(183), chr(183)),
        |    chr(194) || chr(160), chr(160)) AS repaired
        |  FROM messy)
        |SELECT doc_id, repaired, (repaired <> text) AS changed
        |FROM r ORDER BY doc_id""".stripMargin,

    "x102_index_stats" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(sum(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_deleted,
        |  CAST(count(*) - sum(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_live_after_delete,
        |  CAST(sum(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dead_after_delete,
        |  TRUE AS row_per_centroid,
        |  TRUE AS live_matches_direct,
        |  TRUE AS compact_reclaims_and_collapses
        |FROM embeddings""".stripMargin,

    "x101_embedding_health" ->
      """WITH emb AS (
        |  SELECT label,
        |    CASE WHEN vec_id % 100 = 0
        |      THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
        |    WHEN vec_id % 100 = 1
        |      THEN list_transform(embedding, x -> CAST('inf' AS FLOAT))
        |    ELSE embedding END AS embedding
        |  FROM embeddings),
        |n AS (
        |  SELECT label,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
        |    len(embedding) AS d,
        |    len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE))
        |      OR x IS NULL OR isinf(CAST(x AS DOUBLE)))) = 0 AS finite
        |  FROM emb)
        |SELECT label AS group_id, count(*) AS n_vectors,
        |  ROUND(avg(CASE WHEN finite THEN nrm END), 6) AS norm_mean,
        |  ROUND(stddev_samp(CASE WHEN finite THEN nrm END), 6) AS norm_std,
        |  CAST(sum(CASE WHEN finite AND nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero,
        |  CAST(sum(CASE WHEN NOT finite THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
        |  CAST(min(d) AS INT) AS dim_min, CAST(max(d) AS INT) AS dim_max
        |FROM n GROUP BY 1 ORDER BY group_id""".stripMargin,

    // exact legs replay; the sketch-accuracy and store-merge invariants
    // are Spark-verified booleans the oracle pins to TRUE (the x102
    // lifecycle-oracle convention)
    "x104_overlap_sketch" ->
      """WITH corpus AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'srcmirror', text FROM documents WHERE doc_id % 5 = 0),
        |sh AS (
        |  SELECT DISTINCT source AS src, g
        |  FROM (SELECT source,
        |      unnest(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |        ELSE list_transform(range(0, len(toks) - 2),
        |          i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END) AS g
        |    FROM (SELECT source, list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> len(x) > 0) AS toks FROM corpus))),
        |sizes AS (SELECT src, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.src AS source_a, b.src AS source_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.src < b.src
        |  GROUP BY 1, 2)
        |SELECT sa.src AS source_a, sb.src AS source_b,
        |  sa.n AS n_a, sb.n AS n_b,
        |  coalesce(i.n_inter, 0) AS n_inter,
        |  ROUND(CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
        |        (sa.n + sb.n - coalesce(i.n_inter, 0)), 6) AS jaccard,
        |  TRUE AS est_within_bound,
        |  TRUE AS store_matches_oneshot
        |FROM sizes sa JOIN sizes sb ON sa.src < sb.src
        |LEFT JOIN inter i ON i.source_a = sa.src AND i.source_b = sb.src
        |ORDER BY source_a, source_b""".stripMargin,

    "x114_chat_validate" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM documents),
        |chat AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 5 = 0 THEN 'stray preamble' || chr(10)
        |      ELSE '' END)
        |    || 'system: be helpful' || chr(10)
        |    || 'user: ' || coalesce(array_to_string(list_slice(toks, 1, 8), ' '), '') || chr(10)
        |    || 'assistant: ' || coalesce(array_to_string(list_slice(toks, 9, 16), ' '), '') || chr(10)
        |    || coalesce(array_to_string(list_slice(toks, 17, 24), ' '), '') || chr(10)
        |    || 'USER : ' || coalesce(array_to_string(list_slice(toks, 25, 30), ' '), '') AS text
        |  FROM tok),
        |lines AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, ls[i] AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM chat),
        |    UNNEST(range(1, len(ls) + 1)) AS u(i)),
        |seg AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN rolem <> '' THEN
        |      ltrim(regexp_replace(line, '(?i)^\s*(system|user|assistant)\s*:', ''), ' ')
        |    ELSE line END AS content_line,
        |    CASE WHEN rolem <> '' THEN lower(trim(rolem)) END AS role_line,
        |    sum(CASE WHEN rolem <> '' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS turn_idx
        |  FROM (SELECT doc_id, pos, line,
        |      regexp_extract(line, '(?i)^\s*(system|user|assistant)\s*:', 1) AS rolem
        |    FROM lines)),
        |t AS (
        |  SELECT doc_id, CAST(turn_idx AS BIGINT) AS turn_idx,
        |    coalesce(min(role_line), 'unknown') AS role,
        |    string_agg(content_line, chr(10) ORDER BY pos) AS content
        |  FROM seg GROUP BY 1, 2),
        |f AS (
        |  SELECT doc_id, count(*) AS n_turns,
        |    CAST(sum(CASE WHEN role = 'unknown' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_unknown,
        |    CAST(sum(CASE WHEN role = 'assistant' AND len(trim(content)) = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_assistant,
        |    list(role ORDER BY turn_idx) AS roles
        |  FROM t GROUP BY 1),
        |c AS (
        |  SELECT doc_id, n_turns, n_unknown, n_empty_assistant,
        |    CASE WHEN roles[1] = 'system' THEN roles[2:] ELSE roles END AS conv
        |  FROM f)
        |SELECT doc_id, CAST(n_turns AS BIGINT) AS n_turns, n_unknown,
        |  n_empty_assistant,
        |  len(conv) > 0 AND conv[1] = 'user' AS starts_with_user,
        |  len(list_filter(conv, r -> r NOT IN ('user', 'assistant'))) = 0
        |    AND len(list_filter(range(1, len(conv)),
        |      i -> conv[i] = conv[i + 1])) = 0 AS alternates,
        |  n_unknown = 0 AND n_empty_assistant = 0
        |    AND (len(conv) > 0 AND conv[1] = 'user')
        |    AND (len(list_filter(conv, r -> r NOT IN ('user', 'assistant'))) = 0
        |      AND len(list_filter(range(1, len(conv)),
        |        i -> conv[i] = conv[i + 1])) = 0) AS valid
        |FROM c ORDER BY doc_id""".stripMargin,

    "x113_gopher_rules" ->
      """WITH tok0 AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0) AS toks
        |  FROM documents),
        |docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN
        |      concat_ws(chr(10),
        |        '- ' || coalesce(array_to_string(list_slice(toks, 1, 6), ' '), ''),
        |        '- ' || coalesce(array_to_string(list_slice(toks, 7, 12), ' '), ''),
        |        '- ' || coalesce(array_to_string(list_slice(toks, 13, 18), ' '), ''))
        |    WHEN doc_id % 6 = 0 THEN text || '...' || chr(10) || 'and more...' || chr(10) || 'the end'
        |    WHEN doc_id % 10 = 0 THEN text || ' ### ## # … ....'
        |    WHEN doc_id % 7 = 0 THEN text || ' 111 222 333 444 555 666 777 888'
        |    ELSE text END AS text
        |  FROM tok0),
        |m AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0) AS toks,
        |    list_filter(string_split(text, chr(10)),
        |      l -> len(trim(l)) > 0) AS lines
        |  FROM docs),
        |r AS (
        |  SELECT doc_id, len(toks) AS n_words,
        |    CASE WHEN len(toks) > 0 THEN
        |      ROUND(CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE)
        |        / len(toks), 6) ELSE 0.0 END AS mean_word_len,
        |    CASE WHEN len(toks) > 0 THEN ROUND(CAST(
        |      (len(text) - len(replace(text, '#', '')))
        |      + (len(text) - len(replace(text, '…', '')))
        |      + len(list_filter(string_split_regex(text, '[^.]+'),
        |          s -> len(s) >= 3)) AS DOUBLE) / len(toks), 6)
        |      ELSE 0.0 END AS symbol_ratio,
        |    CASE WHEN len(lines) > 0 THEN
        |      ROUND(CAST(len(list_filter(lines,
        |        l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
        |        / len(lines), 6) ELSE 0.0 END AS bullet_line_frac,
        |    CASE WHEN len(lines) > 0 THEN
        |      ROUND(CAST(len(list_filter(lines,
        |        l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE)
        |        / len(lines), 6) ELSE 0.0 END AS ellipsis_line_frac,
        |    CASE WHEN len(toks) > 0 THEN
        |      ROUND(CAST(len(list_filter(toks,
        |        w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
        |        / len(toks), 6) ELSE 0.0 END AS alpha_word_frac
        |  FROM m)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
        |  symbol_ratio, bullet_line_frac, ellipsis_line_frac,
        |  alpha_word_frac,
        |  n_words >= 20 AND n_words <= 100000
        |    AND mean_word_len >= 3 AND mean_word_len <= 10
        |    AND symbol_ratio <= 0.1 AND bullet_line_frac < 0.9
        |    AND ellipsis_line_frac < 0.3 AND alpha_word_frac > 0.8
        |    AS gopher_pass
        |FROM r ORDER BY doc_id""".stripMargin,

    "x112_blocklist_filter" ->
      """WITH docs AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 9 = 0 THEN ' graftbad graftbad' ELSE '' END
        |    || CASE WHEN doc_id % 15 = 0 THEN ' graft worst case' ELSE '' END
        |    AS text
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM docs),
        |m AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, t -> t IN ('graftbad'))) AS n_blocked_tokens,
        |    (CASE WHEN position(' graft worst ' IN
        |        ' ' || array_to_string(toks, ' ') || ' ') > 0
        |      THEN 1 ELSE 0 END)
        |    + (CASE WHEN position(' absent pair ' IN
        |        ' ' || array_to_string(toks, ' ') || ' ') > 0
        |      THEN 1 ELSE 0 END) AS n_blocked_phrases
        |  FROM tok)
        |SELECT doc_id, CAST(n_blocked_tokens AS BIGINT) AS n_blocked_tokens,
        |  CAST(n_blocked_phrases AS BIGINT) AS n_blocked_phrases,
        |  n_blocked_tokens > 0 OR n_blocked_phrases > 0 AS blocked
        |FROM m ORDER BY doc_id""".stripMargin,

    "x110_budget_prefix" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS token_cnt,
        |    md5('42|' || CAST(doc_id AS VARCHAR)) AS rk
        |  FROM documents)
        |SELECT doc_id, source, token_cnt,
        |  CAST(coalesce(sum(token_cnt) OVER (PARTITION BY source
        |    ORDER BY rk, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum_before,
        |  coalesce(sum(token_cnt) OVER (PARTITION BY source
        |    ORDER BY rk, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) < 1000
        |    AS kept
        |FROM tok ORDER BY doc_id""".stripMargin,

    "x109_exact_k_sample" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    md5('42|' || CAST(doc_id AS VARCHAR)) AS rank_key,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, rank_key FROM r WHERE rn <= 7
        |ORDER BY source, doc_id""".stripMargin,

    "x108_sft_packing" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM documents),
        |chat AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 5 = 0 THEN 'stray preamble' || chr(10)
        |      ELSE '' END)
        |    || 'system: be helpful' || chr(10)
        |    || 'user: ' || coalesce(array_to_string(list_slice(toks, 1, 8), ' '), '') || chr(10)
        |    || 'assistant: ' || coalesce(array_to_string(list_slice(toks, 9, 16), ' '), '') || chr(10)
        |    || coalesce(array_to_string(list_slice(toks, 17, 24), ' '), '') || chr(10)
        |    || 'USER : ' || coalesce(array_to_string(list_slice(toks, 25, 30), ' '), '') AS text
        |  FROM tok),
        |lines AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, ls[i] AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM chat),
        |    UNNEST(range(1, len(ls) + 1)) AS u(i)),
        |seg AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN rolem <> '' THEN
        |      ltrim(regexp_replace(line, '(?i)^\s*(system|user|assistant)\s*:', ''), ' ')
        |    ELSE line END AS content_line,
        |    CASE WHEN rolem <> '' THEN lower(trim(rolem)) END AS role_line,
        |    sum(CASE WHEN rolem <> '' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS turn_idx
        |  FROM (SELECT doc_id, pos, line,
        |      regexp_extract(line, '(?i)^\s*(system|user|assistant)\s*:', 1) AS rolem
        |    FROM lines)),
        |turns AS (
        |  SELECT doc_id, CAST(turn_idx AS BIGINT) AS turn_idx,
        |    coalesce(min(role_line), 'unknown') AS role,
        |    CAST(len(list_filter(string_split_regex(trim(
        |      string_agg(content_line, chr(10) ORDER BY pos)), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM seg GROUP BY 1, 2),
        |units AS (
        |  SELECT doc_id * 100 + turn_idx AS unit_id,
        |    CAST(doc_id % 8 AS INT) AS shard, role,
        |    role = 'assistant' AS train_mask, n_tokens
        |  FROM turns),
        |off AS (
        |  SELECT unit_id, shard, role, train_mask, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (
        |      ORDER BY shard, unit_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS "offset"
        |  FROM units WHERE n_tokens > 0),
        |inc AS (
        |  SELECT unit_id, shard, role, train_mask, n_tokens, "offset", s.seq_id
        |  FROM off, UNNEST(range("offset" // 128,
        |    ("offset" + n_tokens - 1) // 128 + 1)) AS s(seq_id))
        |SELECT unit_id, shard, role, train_mask, n_tokens, "offset", seq_id,
        |  greatest(seq_id * 128 - "offset", 0) AS doc_start,
        |  greatest("offset" - seq_id * 128, 0) AS start_in_seq,
        |  least("offset" + n_tokens, seq_id * 128 + 128)
        |    - greatest("offset", seq_id * 128) AS n_toks
        |FROM inc ORDER BY unit_id, seq_id""".stripMargin,

    "x107_bloom_decontamination" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(CASE WHEN len(toks) <= 3
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 2),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END))
        |      AS g
        |  FROM tok),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 3),
        |j AS (
        |  SELECT s.doc_id, count(*) AS n_shingles,
        |    CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hits
        |  FROM sh s LEFT JOIN bench b ON s.g = b.g GROUP BY 1)
        |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, n_hits,
        |  ROUND(CAST(n_hits AS DOUBLE) / n_shingles, 6) AS contamination,
        |  TRUE AS no_false_negative, TRUE AS fp_rate_bounded
        |FROM j ORDER BY doc_id""".stripMargin,

    "x106_chat_turns" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM documents),
        |chat AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 5 = 0 THEN 'stray preamble' || chr(10)
        |      ELSE '' END)
        |    || 'system: be helpful' || chr(10)
        |    || 'user: ' || coalesce(array_to_string(list_slice(toks, 1, 8), ' '), '') || chr(10)
        |    || 'assistant: ' || coalesce(array_to_string(list_slice(toks, 9, 16), ' '), '') || chr(10)
        |    || coalesce(array_to_string(list_slice(toks, 17, 24), ' '), '') || chr(10)
        |    || 'USER : ' || coalesce(array_to_string(list_slice(toks, 25, 30), ' '), '') AS text
        |    -- coalesce: DuckDB's out-of-range list_slice is NULL (not []),
        |    -- and || NULL would null the whole transcript for short docs
        |  FROM tok),
        |lines AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, ls[i] AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM chat),
        |    UNNEST(range(1, len(ls) + 1)) AS u(i)),
        |seg AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN rolem <> '' THEN
        |      ltrim(regexp_replace(line, '(?i)^\s*(system|user|assistant)\s*:', ''), ' ')
        |    ELSE line END AS content_line,
        |    CASE WHEN rolem <> '' THEN lower(trim(rolem)) END AS role_line,
        |    sum(CASE WHEN rolem <> '' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS turn_idx
        |  FROM (SELECT doc_id, pos, line,
        |      regexp_extract(line, '(?i)^\s*(system|user|assistant)\s*:', 1) AS rolem
        |    FROM lines)),
        |t AS (
        |  SELECT doc_id, CAST(turn_idx AS BIGINT) AS turn_idx,
        |    coalesce(min(role_line), 'unknown') AS role,
        |    string_agg(content_line, chr(10) ORDER BY pos) AS content
        |  FROM seg GROUP BY 1, 2)
        |SELECT doc_id, turn_idx, role, content,
        |  CAST(len(list_filter(string_split_regex(trim(content), '\s+'),
        |    x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |  role = 'assistant' AS train_mask
        |FROM t ORDER BY doc_id, turn_idx""".stripMargin,

    "x127_adc_recall" ->
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS code, v FROM emb WHERE vec_id < 8),
        |subs AS (SELECT CAST(i AS INT) AS sub FROM UNNEST(range(0, 8)) AS t(i)),
        |enc AS (
        |  SELECT e.vec_id, s.sub, c.code,
        |    list_sum(list_transform(range(1, 9), d ->
        |      (e.v[s.sub * 8 + CAST(d AS INT)] - c.v[s.sub * 8 + CAST(d AS INT)])
        |      * (e.v[s.sub * 8 + CAST(d AS INT)] - c.v[s.sub * 8 + CAST(d AS INT)])))
        |      AS dist
        |  FROM emb e CROSS JOIN subs s CROSS JOIN cents c),
        |codes AS (
        |  SELECT vec_id, sub, code FROM enc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY dist, code) = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 5),
        |exact AS (
        |  SELECT q.query_id, e.vec_id
        |  FROM emb e CROSS JOIN q
        |  QUALIFY row_number() OVER (PARTITION BY q.query_id
        |    ORDER BY ROUND(list_cosine_similarity(e.v, q.qv), 6) DESC,
        |      e.vec_id) <= 10),
        |adcd AS (
        |  SELECT q.query_id, cd.vec_id,
        |    ROUND(SUM(list_sum(list_transform(range(1, 9), d ->
        |      (q.qv[cd.sub * 8 + CAST(d AS INT)] - c.v[cd.sub * 8 + CAST(d AS INT)])
        |      * (q.qv[cd.sub * 8 + CAST(d AS INT)] - c.v[cd.sub * 8 + CAST(d AS INT)])))), 6)
        |      AS dist
        |  FROM codes cd JOIN cents c ON c.code = cd.code CROSS JOIN q
        |  GROUP BY q.query_id, cd.vec_id),
        |adc AS (SELECT query_id, vec_id FROM adcd
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY dist, vec_id) <= 10),
        |short AS (SELECT query_id, vec_id FROM adcd
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY dist, vec_id) <= 40),
        |rr AS (
        |  SELECT s.query_id, e.vec_id
        |  FROM short s JOIN emb e ON e.vec_id = s.vec_id
        |  JOIN q ON q.query_id = s.query_id
        |  QUALIFY row_number() OVER (PARTITION BY s.query_id
        |    ORDER BY ROUND(list_cosine_similarity(e.v, q.qv), 6) DESC,
        |      e.vec_id) <= 10),
        |rec_adc AS (
        |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
        |    CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hit
        |  FROM exact e LEFT JOIN adc a
        |    ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        |  GROUP BY 1),
        |rec_rr AS (
        |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
        |    CAST(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hit
        |  FROM exact e LEFT JOIN rr r
        |    ON r.query_id = e.query_id AND r.vec_id = e.vec_id
        |  GROUP BY 1)
        |SELECT 'adc' AS path, query_id, n_exact, n_hit,
        |  ROUND(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall FROM rec_adc
        |UNION ALL
        |SELECT 'adc_rerank', query_id, n_exact, n_hit,
        |  ROUND(CAST(n_hit AS DOUBLE) / n_exact, 6) FROM rec_rr
        |ORDER BY path, query_id""".stripMargin,

    "x125_ngram_novelty" ->
      """WITH rtok AS (
        |  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS ts
        |  FROM documents),
        |ref AS (
        |  SELECT DISTINCT ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS gram
        |  FROM rtok, UNNEST(range(1, len(ts) - 1)) AS u(i)),
        |docs AS (
        |  SELECT doc_id, CASE WHEN doc_id % 4 = 0
        |    THEN text || ' novelx novely novelz' ELSE text END AS text
        |  FROM documents),
        |dtok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS ts
        |  FROM docs),
        |dgram AS (
        |  SELECT doc_id, ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS gram
        |  FROM dtok, UNNEST(range(1, len(ts) - 1)) AS u(i)),
        |agg AS (
        |  SELECT d.doc_id, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_novel
        |  FROM dgram d LEFT JOIN ref r ON r.gram = d.gram
        |  GROUP BY d.doc_id)
        |SELECT m.doc_id, coalesce(a.n_grams, 0) AS n_grams,
        |  coalesce(a.n_novel, 0) AS n_novel,
        |  coalesce(ROUND(CAST(a.n_novel AS DOUBLE) / a.n_grams, 6), 0.0)
        |    AS novelty
        |FROM docs m LEFT JOIN agg a ON m.doc_id = a.doc_id
        |ORDER BY m.doc_id""".stripMargin,

    "x124_count_min" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT tok, CAST(i AS INT) AS i,
        |    CAST(('0x' || substring(md5('cms' || CAST(i AS VARCHAR) || '_' || tok), 1, 8))
        |      AS BIGINT) % 1024 AS hh
        |  FROM tok, UNNEST(range(0, 4)) AS u(i)),
        |cells AS (SELECT i, hh, count(*) AS c FROM h GROUP BY i, hh),
        |probe AS (
        |  SELECT DISTINCT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents WHERE doc_id < 3),
        |exact AS (SELECT tok, count(*) AS exact_cnt FROM tok GROUP BY tok),
        |ph AS (
        |  SELECT p.tok, CAST(i AS INT) AS i,
        |    CAST(('0x' || substring(md5('cms' || CAST(i AS VARCHAR) || '_' || p.tok), 1, 8))
        |      AS BIGINT) % 1024 AS hh
        |  FROM probe p, UNNEST(range(0, 4)) AS u(i)),
        |est AS (
        |  SELECT ph.tok, min(coalesce(cells.c, 0)) AS est_cnt
        |  FROM ph LEFT JOIN cells ON cells.i = ph.i AND cells.hh = ph.hh
        |  GROUP BY ph.tok)
        |SELECT p.tok, e.exact_cnt, CAST(est.est_cnt AS BIGINT) AS est_cnt
        |FROM probe p JOIN exact e ON e.tok = p.tok
        |JOIN est ON est.tok = p.tok
        |ORDER BY p.tok""".stripMargin,

    // The streamed store equals the one-shot sketch exactly (cell-wise
    // integer addition commutes), so the oracle is x124's full md5 cell
    // replay over the whole corpus — a value-level check of the
    // streaming merge path, not a property check.
    "x129_stream_cms_monitor" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT tok, CAST(i AS INT) AS i,
        |    CAST(('0x' || substring(md5('cms' || CAST(i AS VARCHAR) || '_' || tok), 1, 8))
        |      AS BIGINT) % 1024 AS hh
        |  FROM tok, UNNEST(range(0, 4)) AS u(i)),
        |cells AS (SELECT i, hh, count(*) AS c FROM h GROUP BY i, hh),
        |probe AS (
        |  SELECT DISTINCT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents WHERE doc_id < 3),
        |exact AS (SELECT tok, count(*) AS exact_cnt FROM tok GROUP BY tok),
        |ph AS (
        |  SELECT p.tok, CAST(i AS INT) AS i,
        |    CAST(('0x' || substring(md5('cms' || CAST(i AS VARCHAR) || '_' || p.tok), 1, 8))
        |      AS BIGINT) % 1024 AS hh
        |  FROM probe p, UNNEST(range(0, 4)) AS u(i)),
        |est AS (
        |  SELECT ph.tok, min(coalesce(cells.c, 0)) AS est_cnt
        |  FROM ph LEFT JOIN cells ON cells.i = ph.i AND cells.hh = ph.hh
        |  GROUP BY ph.tok)
        |SELECT p.tok, e.exact_cnt, CAST(est.est_cnt AS BIGINT) AS est_cnt
        |FROM probe p JOIN exact e ON e.tok = p.tok
        |JOIN est ON est.tok = p.tok
        |ORDER BY p.tok""".stripMargin,

    "x130_binary_quant_knn" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |codes AS (
        |  SELECT vec_id, v,
        |    list_transform(range(0, CAST(ceil(len(v) / 63.0) AS INT)), w ->
        |      coalesce(list_sum(list_transform(range(0, 63), b ->
        |        CASE WHEN w * 63 + b < len(v) AND v[w * 63 + b + 1] > 0
        |          THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)), 0)) AS bc
        |  FROM e),
        |qs AS (
        |  SELECT vec_id AS query_id, v AS qv, bc AS qbc
        |  FROM codes WHERE vec_id IN (0, 7, 13)),
        |approx AS (
        |  SELECT qs.query_id, c.vec_id,
        |    CAST(list_sum(list_transform(range(1, len(c.bc) + 1), i ->
        |      bit_count(xor(c.bc[i], qs.qbc[i])))) AS BIGINT) AS hamming
        |  FROM codes c CROSS JOIN qs),
        |cand AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY hamming, vec_id) AS rn
        |  FROM approx),
        |rer AS (
        |  SELECT c.query_id, c.vec_id, c.hamming,
        |    ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cosine_sim
        |  FROM cand c
        |  JOIN e ON e.vec_id = c.vec_id
        |  JOIN qs q ON q.query_id = c.query_id
        |  WHERE c.rn <= 32),
        |fin AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rn
        |  FROM rer)
        |SELECT query_id, vec_id, hamming, cosine_sim FROM fin WHERE rn <= 8
        |ORDER BY query_id, vec_id""".stripMargin,

    // Full DoReMi replay: (domain, token) counts, KL excess (round6
    // BEFORE the exp so both engines feed libm the identical argument),
    // the share*exp(eta*excess) update, normalization, uniform smoothing.
    "x131_doremi_weights" ->
      """WITH tok AS (
        |  SELECT source AS domain, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |stf AS (SELECT domain, token, count(*) AS stf FROM tok GROUP BY 1, 2),
        |stot AS (SELECT domain, sum(stf) AS stot FROM stf GROUP BY 1),
        |gtf AS (SELECT token, sum(stf) AS gtf FROM stf GROUP BY 1),
        |gtot AS (SELECT sum(gtf) AS gtot FROM gtf),
        |dom AS (
        |  SELECT s.domain, CAST(max(t.stot) AS BIGINT) AS n_tokens,
        |    ROUND(max(t.stot * 1.0 / gtot.gtot), 6) AS share,
        |    greatest(0.0, ROUND(sum((s.stf * 1.0 / t.stot) *
        |      ln((s.stf * 1.0 / t.stot) / (g.gtf * 1.0 / gtot.gtot))), 6))
        |      AS excess
        |  FROM stf s JOIN stot t USING (domain) JOIN gtf g USING (token)
        |  CROSS JOIN gtot GROUP BY s.domain),
        |upd AS (SELECT *, share * exp(2.0 * excess) AS unnorm FROM dom),
        |z AS (SELECT sum(unnorm) AS z, count(*) AS d FROM upd)
        |SELECT domain, n_tokens, share, excess,
        |  ROUND(0.99 * unnorm / z.z + 0.01 / z.d, 6) AS weight,
        |  ROUND(ROUND(0.99 * unnorm / z.z + 0.01 / z.d, 6) / share, 6)
        |    AS resample_factor
        |FROM upd CROSS JOIN z ORDER BY domain""".stripMargin,

    "x132_unigram_segment" -> unigramOracleSql,
    "x139_wordpiece_segment" -> wordpieceOracleSql,

    // The former "irreducible rows-only core": with the portable trainer
    // the k-means recurrence is engine-exact, so the whole train -> assign
    // -> probe -> re-rank pipeline value-replays. Probe ties -> lowest
    // cid (the stable driver sort / NearestCentroidIds contract).
    "x15_knn_ivf" ->
      (ivfPortableTrainSql(nc = 16, iters = 3, dim = 64) + """,
        |q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
        |probe AS (
        |  SELECT cid FROM c3 CROSS JOIN q
        |  QUALIFY row_number() OVER (
        |    ORDER BY list_cosine_similarity(cv, qv) DESC, cid ASC) <= 4)
        |SELECT a.vec_id,
        |  ROUND(list_cosine_similarity(a.v, q.qv), 6) AS cosine_sim
        |FROM af a JOIN probe USING (cid) CROSS JOIN q
        |ORDER BY cosine_sim DESC, a.vec_id LIMIT 20""".stripMargin),

    "x27_knn_ivf_batch" ->
      (ivfPortableTrainSql(nc = 16, iters = 3, dim = 64) + """,
        |qs AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 5),
        |probes AS (
        |  SELECT query_id, qv, cid FROM (
        |    SELECT q.query_id, q.qv, c.cid, row_number() OVER (
        |      PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(c.cv, q.qv) DESC, c.cid ASC) AS rn
        |    FROM qs q CROSS JOIN c3 c) WHERE rn <= 4),
        |sc AS (
        |  SELECT p.query_id, a.vec_id,
        |    ROUND(list_cosine_similarity(a.v, p.qv), 6) AS cosine_sim
        |  FROM af a JOIN probes p USING (cid))
        |SELECT query_id, vec_id, cosine_sim, TRUE AS partition_pruned FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine_sim DESC, vec_id) AS rn FROM sc)
        |WHERE rn <= 10 ORDER BY query_id, cosine_sim DESC, vec_id""".stripMargin),

    // Artetxe-Schwenk ratio margin over parity-split sides: candidates =
    // fwd ∪ bwd top-4 by cosine, neighborhood means exact in integer
    // micro-units (the mean6Exact formulation — sign * floor((2|s|+n)/2n)),
    // margin = round6 division, mutual best (ties -> lowest id).
    "x133_bitext_margin" ->
      """WITH emb AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id AS src_id, v FROM emb WHERE vec_id % 2 = 0),
        |tt AS (SELECT vec_id AS tgt_id, v FROM emb WHERE vec_id % 2 = 1),
        |sc AS (SELECT s.src_id, tt.tgt_id,
        |    ROUND(list_cosine_similarity(s.v, tt.v), 6) AS cosine_sim
        |  FROM s CROSS JOIN tt),
        |ft AS (SELECT src_id, tgt_id, cosine_sim FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY src_id
        |    ORDER BY cosine_sim DESC, tgt_id) <= 4),
        |bt AS (SELECT src_id, tgt_id, cosine_sim FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY tgt_id
        |    ORDER BY cosine_sim DESC, src_id) <= 4),
        |fa AS (SELECT src_id,
        |    (CASE WHEN s < 0 THEN -1 ELSE 1 END)
        |      * CAST(FLOOR((2*ABS(s) + n) / (2.0*n)) AS BIGINT)
        |      / 1000000.0 AS favg
        |  FROM (SELECT src_id,
        |      SUM(CAST(ROUND(cosine_sim * 1000000) AS BIGINT)) AS s,
        |      COUNT(*) AS n FROM ft GROUP BY src_id)),
        |ba AS (SELECT tgt_id,
        |    (CASE WHEN s < 0 THEN -1 ELSE 1 END)
        |      * CAST(FLOOR((2*ABS(s) + n) / (2.0*n)) AS BIGINT)
        |      / 1000000.0 AS bavg
        |  FROM (SELECT tgt_id,
        |      SUM(CAST(ROUND(cosine_sim * 1000000) AS BIGINT)) AS s,
        |      COUNT(*) AS n FROM bt GROUP BY tgt_id)),
        |cand AS (SELECT DISTINCT src_id, tgt_id, cosine_sim FROM
        |  (SELECT * FROM ft UNION ALL SELECT * FROM bt)),
        |mg AS (SELECT c.src_id, c.tgt_id, c.cosine_sim,
        |    ROUND(c.cosine_sim / ((fa.favg + ba.bavg) / 2), 6) AS margin
        |  FROM cand c JOIN fa USING (src_id) JOIN ba USING (tgt_id)
        |  WHERE fa.favg + ba.bavg > 0),
        |bs AS (SELECT * FROM mg QUALIFY row_number() OVER (
        |  PARTITION BY src_id ORDER BY margin DESC, tgt_id) = 1),
        |btg AS (SELECT src_id, tgt_id FROM mg QUALIFY row_number() OVER (
        |  PARTITION BY tgt_id ORDER BY margin DESC, src_id) = 1)
        |SELECT b.src_id, b.tgt_id, b.cosine_sim, b.margin
        |FROM bs b JOIN btg USING (src_id, tgt_id)
        |WHERE b.margin >= 1.0
        |ORDER BY src_id""".stripMargin,

    // Cluster-balanced sample: the x15 portable Lloyd CTEs (nc=8,
    // iters=2) feed the x109 md5 rank window per cluster.
    "x134_cluster_sample" ->
      (ivfPortableTrainSql(nc = 8, iters = 2, dim = 64) + """,
        |sz AS (SELECT cid, COUNT(*) AS cluster_size FROM af GROUP BY cid),
        |r AS (SELECT a.cid AS centroid_id, a.vec_id,
        |    md5('42|' || CAST(a.vec_id AS VARCHAR)) AS rank_key,
        |    row_number() OVER (PARTITION BY a.cid
        |      ORDER BY md5('42|' || CAST(a.vec_id AS VARCHAR)), a.vec_id)
        |      AS rn
        |  FROM af a)
        |SELECT r.centroid_id, r.vec_id, r.rank_key, sz.cluster_size
        |FROM r JOIN sz ON r.centroid_id = sz.cid
        |WHERE rn <= 10 ORDER BY centroid_id, vec_id""".stripMargin),

    // Reliability bins over the replayed logreg training (x90's scoring
    // leg re-joined to labels, binned 10-wide, integer-exact means —
    // p,y >= 0 so the sign term drops).
    "x135_calibration_bins" ->
      ("WITH " + logRegCtes + ",\n" +
        """zf AS (SELECT f.doc_id, (SELECT w FROM b3) + sum(w3.w) AS z
          |  FROM feats f JOIN w3 ON f.b = w3.b GROUP BY f.doc_id),
          |sc AS (SELECT zf.doc_id,
          |    ROUND(1.0 / (1.0 + exp(-z)), 6) AS p, d.y
          |  FROM zf JOIN docs d ON zf.doc_id = d.doc_id),
          |bn AS (SELECT CAST(LEAST(FLOOR(p * 10), 9) AS INT) AS bin, p, y
          |  FROM sc),
          |ag AS (SELECT bin, COUNT(*) AS n,
          |    SUM(CAST(ROUND(p * 1000000) AS BIGINT)) AS sp,
          |    SUM(CAST(ROUND(y * 1000000) AS BIGINT)) AS sy
          |  FROM bn GROUP BY bin),
          |mn AS (SELECT bin, n,
          |    CAST(FLOOR((2*sp + n) / (2.0*n)) AS BIGINT) / 1000000.0
          |      AS conf_mean,
          |    CAST(FLOOR((2*sy + n) / (2.0*n)) AS BIGINT) / 1000000.0
          |      AS label_rate
          |  FROM ag)
          |SELECT bin, n, conf_mean, label_rate,
          |  ROUND(ABS(conf_mean - label_rate), 6) AS abs_gap
          |FROM mn ORDER BY bin""".stripMargin),

    // Exact shingle hits replayed; the screen's guarantees (one-sided
    // error, exactly-once routing) are TRUE literals the Spark side must
    // reproduce from the actually-persisted streaming sink outputs.
    "x128_stream_bloom_screen" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(CASE WHEN len(toks) <= 3
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 2),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END))
        |      AS g
        |  FROM tok),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 3),
        |j AS (
        |  SELECT s.doc_id, count(*) AS n_shingles,
        |    CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hits
        |  FROM sh s LEFT JOIN bench b ON s.g = b.g GROUP BY 1)
        |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, n_hits,
        |  TRUE AS no_false_negative, TRUE AS routed_exactly_once
        |FROM j ORDER BY doc_id""".stripMargin,

    "x123_ivfadc_residual" ->
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cid, v FROM emb WHERE vec_id < 8),
        |asg AS (
        |  SELECT e.vec_id, c.cid FROM emb e CROSS JOIN cents c
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.cid DESC) = 1),
        |subs AS (SELECT CAST(i AS INT) AS sub FROM UNNEST(range(0, 8)) AS t(i)),
        |enc AS (
        |  SELECT e.vec_id, s.sub, cb.cid AS code,
        |    list_sum(list_transform(range(1, 9), d ->
        |      ((e.v[s.sub * 8 + CAST(d AS INT)] - co.v[s.sub * 8 + CAST(d AS INT)])
        |        - cb.v[s.sub * 8 + CAST(d AS INT)])
        |      * ((e.v[s.sub * 8 + CAST(d AS INT)] - co.v[s.sub * 8 + CAST(d AS INT)])
        |        - cb.v[s.sub * 8 + CAST(d AS INT)]))) AS dist
        |  FROM emb e JOIN asg a ON a.vec_id = e.vec_id
        |  JOIN cents co ON co.cid = a.cid
        |  CROSS JOIN subs s CROSS JOIN cents cb),
        |codes AS (
        |  SELECT vec_id, sub, code FROM enc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY dist, code) = 1),
        |q AS (SELECT v AS qv FROM emb WHERE vec_id = 42),
        |probes AS (
        |  SELECT c.cid FROM cents c CROSS JOIN q
        |  QUALIFY row_number() OVER (
        |    ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.cid ASC) <= 3),
        |adc AS (
        |  SELECT cd.vec_id,
        |    SUM(list_sum(list_transform(range(1, 9), d ->
        |      ((q.qv[cd.sub * 8 + CAST(d AS INT)] - co.v[cd.sub * 8 + CAST(d AS INT)])
        |        - cb.v[cd.sub * 8 + CAST(d AS INT)])
        |      * ((q.qv[cd.sub * 8 + CAST(d AS INT)] - co.v[cd.sub * 8 + CAST(d AS INT)])
        |        - cb.v[cd.sub * 8 + CAST(d AS INT)])))) AS dist
        |  FROM codes cd JOIN cents cb ON cb.cid = cd.code
        |  JOIN asg a ON a.vec_id = cd.vec_id
        |  JOIN cents co ON co.cid = a.cid CROSS JOIN q
        |  WHERE a.cid IN (SELECT cid FROM probes)
        |  GROUP BY cd.vec_id)
        |SELECT vec_id, ROUND(dist, 6) AS adc_dist
        |FROM adc ORDER BY ROUND(dist, 6), vec_id LIMIT 10""".stripMargin,

    "x122_pq_rerank" ->
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS code, v FROM emb WHERE vec_id < 8),
        |subs AS (SELECT CAST(i AS INT) AS sub FROM UNNEST(range(0, 8)) AS t(i)),
        |enc AS (
        |  SELECT e.vec_id, s.sub, c.code,
        |    list_sum(list_transform(range(1, 9), d ->
        |      (e.v[s.sub * 8 + CAST(d AS INT)] - c.v[s.sub * 8 + CAST(d AS INT)])
        |      * (e.v[s.sub * 8 + CAST(d AS INT)] - c.v[s.sub * 8 + CAST(d AS INT)])))
        |      AS dist
        |  FROM emb e CROSS JOIN subs s CROSS JOIN cents c),
        |codes AS (
        |  SELECT vec_id, sub, code FROM enc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY dist, code) = 1),
        |q AS (SELECT v AS qv FROM emb WHERE vec_id = 7),
        |adc AS (
        |  SELECT cd.vec_id,
        |    ROUND(SUM(list_sum(list_transform(range(1, 9), d ->
        |      (q.qv[cd.sub * 8 + CAST(d AS INT)] - c.v[cd.sub * 8 + CAST(d AS INT)])
        |      * (q.qv[cd.sub * 8 + CAST(d AS INT)] - c.v[cd.sub * 8 + CAST(d AS INT)])))), 6)
        |      AS dist
        |  FROM codes cd JOIN cents c ON c.code = cd.code CROSS JOIN q
        |  GROUP BY cd.vec_id),
        |short AS (
        |  SELECT vec_id FROM adc
        |  QUALIFY row_number() OVER (ORDER BY dist, vec_id) <= 40)
        |SELECT e.vec_id,
        |  ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cosine_sim
        |FROM short s JOIN emb e ON e.vec_id = s.vec_id CROSS JOIN q
        |ORDER BY cosine_sim DESC, e.vec_id LIMIT 20""".stripMargin,

    "x121_fertility" ->
      """WITH m AS (
        |  SELECT lang, octet_length(encode(text)) AS b,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0)) AS w,
        |    len(regexp_extract_all(text,
        |      '[^a-zA-Z0-9\s](?:[a-zA-Z]+|[0-9]+)?|[a-zA-Z]+|[0-9]+')) AS sw
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(b) AS BIGINT) AS total_bytes,
        |  CAST(sum(w) AS BIGINT) AS total_words,
        |  CAST(sum(sw) AS BIGINT) AS total_subwords,
        |  ROUND(CAST(sum(sw) AS DOUBLE) / sum(w), 6) AS fertility,
        |  ROUND(CAST(sum(b) AS DOUBLE) / sum(sw), 6) AS bytes_per_subword
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,

    "x120_ivfadc" ->
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cid, v FROM emb WHERE vec_id < 8),
        |asg AS (
        |  SELECT e.vec_id, c.cid FROM emb e CROSS JOIN cents c
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.cid DESC) = 1),
        |subs AS (SELECT CAST(i AS INT) AS sub FROM UNNEST(range(0, 8)) AS t(i)),
        |enc AS (
        |  SELECT e.vec_id, s.sub, c.cid AS code,
        |    list_sum(list_transform(range(1, 9), d ->
        |      (e.v[s.sub * 8 + CAST(d AS INT)] - c.v[s.sub * 8 + CAST(d AS INT)])
        |      * (e.v[s.sub * 8 + CAST(d AS INT)] - c.v[s.sub * 8 + CAST(d AS INT)])))
        |      AS dist
        |  FROM emb e CROSS JOIN subs s CROSS JOIN cents c),
        |codes AS (
        |  SELECT vec_id, sub, code FROM enc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY dist, code) = 1),
        |q AS (SELECT v AS qv FROM emb WHERE vec_id = 42),
        |probes AS (
        |  SELECT c.cid FROM cents c CROSS JOIN q
        |  QUALIFY row_number() OVER (
        |    ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.cid ASC) <= 3),
        |adc AS (
        |  SELECT cd.vec_id,
        |    SUM(list_sum(list_transform(range(1, 9), d ->
        |      (q.qv[cd.sub * 8 + CAST(d AS INT)] - c.v[cd.sub * 8 + CAST(d AS INT)])
        |      * (q.qv[cd.sub * 8 + CAST(d AS INT)] - c.v[cd.sub * 8 + CAST(d AS INT)]))))
        |      AS dist
        |  FROM codes cd JOIN cents c ON c.cid = cd.code
        |  JOIN asg a ON a.vec_id = cd.vec_id CROSS JOIN q
        |  WHERE a.cid IN (SELECT cid FROM probes)
        |  GROUP BY cd.vec_id)
        |SELECT vec_id, ROUND(dist, 6) AS adc_dist
        |FROM adc ORDER BY ROUND(dist, 6), vec_id LIMIT 10""".stripMargin,

    "x119_mmr_rerank" ->
      """WITH q AS (
        |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |  FROM embeddings WHERE vec_id = 0),
        |emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id <> 0),
        |cand AS (
        |  SELECT vec_id, v, ROUND(list_cosine_similarity(v, q.qv), 6) AS rel
        |  FROM emb CROSS JOIN q
        |  QUALIFY row_number() OVER (
        |    ORDER BY ROUND(list_cosine_similarity(v, q.qv), 6) DESC, vec_id) <= 20),
        |sim AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS s
        |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
        |p1 AS (SELECT vec_id, 0.75 * rel AS raw FROM cand
        |  QUALIFY row_number() OVER (ORDER BY 0.75 * rel DESC, vec_id) = 1),
        |m2 AS (SELECT c.vec_id, c.rel, max(s.s) AS ms FROM cand c
        |  JOIN sim s ON s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM p1)
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM p1) GROUP BY 1, 2),
        |p2 AS (SELECT vec_id, 0.75 * rel - 0.25 * ms AS raw FROM m2
        |  QUALIFY row_number() OVER (ORDER BY 0.75 * rel - 0.25 * ms DESC, vec_id) = 1),
        |sel2 AS (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2),
        |m3 AS (SELECT c.vec_id, c.rel, max(s.s) AS ms FROM cand c
        |  JOIN sim s ON s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM sel2)
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2) GROUP BY 1, 2),
        |p3 AS (SELECT vec_id, 0.75 * rel - 0.25 * ms AS raw FROM m3
        |  QUALIFY row_number() OVER (ORDER BY 0.75 * rel - 0.25 * ms DESC, vec_id) = 1),
        |sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM p3),
        |m4 AS (SELECT c.vec_id, c.rel, max(s.s) AS ms FROM cand c
        |  JOIN sim s ON s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM sel3)
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3) GROUP BY 1, 2),
        |p4 AS (SELECT vec_id, 0.75 * rel - 0.25 * ms AS raw FROM m4
        |  QUALIFY row_number() OVER (ORDER BY 0.75 * rel - 0.25 * ms DESC, vec_id) = 1),
        |sel4 AS (SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM p4),
        |m5 AS (SELECT c.vec_id, c.rel, max(s.s) AS ms FROM cand c
        |  JOIN sim s ON s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM sel4)
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4) GROUP BY 1, 2),
        |p5 AS (SELECT vec_id, 0.75 * rel - 0.25 * ms AS raw FROM m5
        |  QUALIFY row_number() OVER (ORDER BY 0.75 * rel - 0.25 * ms DESC, vec_id) = 1)
        |SELECT vec_id, CAST(1 AS INTEGER) AS mmr_rank, ROUND(raw, 6) AS mmr_score FROM p1
        |UNION ALL SELECT vec_id, CAST(2 AS INTEGER), ROUND(raw, 6) FROM p2
        |UNION ALL SELECT vec_id, CAST(3 AS INTEGER), ROUND(raw, 6) FROM p3
        |UNION ALL SELECT vec_id, CAST(4 AS INTEGER), ROUND(raw, 6) FROM p4
        |UNION ALL SELECT vec_id, CAST(5 AS INTEGER), ROUND(raw, 6) FROM p5
        |ORDER BY mmr_rank""".stripMargin,

    "x118_char_entropy" ->
      """WITH docs AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN 'spam ' || repeat('a', 60)
        |    ELSE text END AS text
        |  FROM documents),
        |ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM docs),
        |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
        |tot AS (SELECT doc_id, CAST(sum(k) AS DOUBLE) AS n FROM cnt GROUP BY doc_id),
        |e AS (
        |  SELECT cnt.doc_id,
        |    ROUND(-sum((k / t.n) * (ln(k / t.n) / ln(2))), 6) AS char_entropy
        |  FROM cnt JOIN tot t ON cnt.doc_id = t.doc_id GROUP BY cnt.doc_id)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        |  coalesce(e.char_entropy, 0.0) AS char_entropy,
        |  coalesce(e.char_entropy, 0.0) < 2.0 AS low_entropy
        |FROM docs d LEFT JOIN e ON d.doc_id = e.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "x117_stupid_backoff" ->
      """WITH mtok AS (
        |  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS ts
        |  FROM documents),
        |uni AS (SELECT w, count(*) AS c
        |  FROM (SELECT unnest(ts) AS w FROM mtok) GROUP BY w),
        |bi AS (SELECT a, b, count(*) AS c
        |  FROM (SELECT ts[i] AS a, ts[i + 1] AS b
        |        FROM mtok, UNNEST(range(1, len(ts))) AS u(i)) GROUP BY a, b),
        |tri AS (SELECT a, b, c3, count(*) AS c
        |  FROM (SELECT ts[i] AS a, ts[i + 1] AS b, ts[i + 2] AS c3
        |        FROM mtok, UNNEST(range(1, len(ts) - 1)) AS u(i)) GROUP BY a, b, c3),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n,
        |  CAST(count(*) AS DOUBLE) AS v FROM uni),
        |dtok AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> len(x) > 0) AS ts0
        |  FROM documents),
        |mut AS (
        |  SELECT doc_id,
        |    concat_ws(' ', ts0[len(ts0)], text,
        |      CASE WHEN doc_id % 5 = 0 THEN 'zzqx zzqy' ELSE '' END) AS text
        |  FROM dtok),
        |dts AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS ts
        |  FROM mut),
        |dtri AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2, ts[i + 2] AS w3
        |  FROM dts, UNNEST(range(1, len(ts) - 1)) AS u(i)),
        |sc AS (
        |  SELECT d.doc_id,
        |    CASE
        |      WHEN t.c IS NOT NULL THEN CAST(t.c AS DOUBLE) / CAST(b12.c AS DOUBLE)
        |      WHEN b23.c IS NOT NULL THEN 0.4 * CAST(b23.c AS DOUBLE) / CAST(u2.c AS DOUBLE)
        |      ELSE 0.4 * 0.4 * (coalesce(u3.c, 0) + 0.5) / (tot.n + 0.5 * tot.v)
        |    END AS s
        |  FROM dtri d
        |  LEFT JOIN tri t ON t.a = d.w1 AND t.b = d.w2 AND t.c3 = d.w3
        |  LEFT JOIN bi b12 ON b12.a = d.w1 AND b12.b = d.w2
        |  LEFT JOIN bi b23 ON b23.a = d.w2 AND b23.b = d.w3
        |  LEFT JOIN uni u2 ON u2.w = d.w2
        |  LEFT JOIN uni u3 ON u3.w = d.w3, tot),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        |    ROUND(avg(-ln(s)), 6) AS sb_nll
        |  FROM sc GROUP BY doc_id)
        |SELECT m.doc_id, coalesce(a.n_trigrams, 0) AS n_trigrams,
        |  coalesce(a.sb_nll, 0.0) AS sb_nll
        |FROM mut m LEFT JOIN agg a ON m.doc_id = a.doc_id
        |ORDER BY m.doc_id""".stripMargin,

    "x116_dsir_selection" ->
      """WITH raws AS (
        |  SELECT doc_id,
        |    lower(text || CASE WHEN doc_id % 2 = 0 THEN ' tgtmark alpha tgtmark'
        |      ELSE ' rawmark beta rawmark' END) AS text
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM raws),
        |featlist AS (
        |  SELECT doc_id, toks ||
        |    CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),
        |      i -> toks[i] || '_' || toks[i + 1]) ELSE [] END AS fs
        |  FROM tok),
        |feats AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(md5(f), 1, 8)) AS BIGINT) % 256 AS b
        |  FROM (SELECT doc_id, unnest(fs) AS f FROM featlist)),
        |tcnt AS (SELECT b, count(*) AS c FROM feats WHERE doc_id % 2 = 0 GROUP BY b),
        |rcnt AS (SELECT b, count(*) AS c FROM feats GROUP BY b),
        |tt AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM tcnt),
        |tr AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM rcnt),
        |allb AS (SELECT unnest(range(0, 256)) AS b),
        |ratio AS (
        |  SELECT allb.b,
        |    ROUND(ROUND(ln((coalesce(tcnt.c, 0) + 0.01) / (tt.t + 0.01 * 256)), 6)
        |        - ROUND(ln((coalesce(rcnt.c, 0) + 0.01) / (tr.t + 0.01 * 256)), 6), 6)
        |      AS lr
        |  FROM allb LEFT JOIN tcnt ON allb.b = tcnt.b
        |    LEFT JOIN rcnt ON allb.b = rcnt.b, tt, tr)
        |SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_features,
        |  ROUND(SUM(r.lr), 6) AS log_weight
        |FROM feats f JOIN ratio r ON f.b = r.b
        |GROUP BY f.doc_id ORDER BY doc_id""".stripMargin,

    "x115_pq_adc" ->
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS code, v FROM emb WHERE vec_id < 8),
        |subs AS (SELECT CAST(i AS INT) AS sub FROM UNNEST(range(0, 8)) AS t(i)),
        |enc AS (
        |  SELECT e.vec_id, s.sub, c.code,
        |    list_sum(list_transform(range(1, 9), d ->
        |      (e.v[s.sub * 8 + CAST(d AS INT)] - c.v[s.sub * 8 + CAST(d AS INT)])
        |      * (e.v[s.sub * 8 + CAST(d AS INT)] - c.v[s.sub * 8 + CAST(d AS INT)])))
        |      AS dist
        |  FROM emb e CROSS JOIN subs s CROSS JOIN cents c),
        |codes AS (
        |  SELECT vec_id, sub, code FROM enc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY dist, code) = 1),
        |q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
        |adc AS (
        |  SELECT cd.vec_id,
        |    SUM(list_sum(list_transform(range(1, 9), d ->
        |      (q.qv[cd.sub * 8 + CAST(d AS INT)] - c.v[cd.sub * 8 + CAST(d AS INT)])
        |      * (q.qv[cd.sub * 8 + CAST(d AS INT)] - c.v[cd.sub * 8 + CAST(d AS INT)]))))
        |      AS dist
        |  FROM codes cd JOIN cents c ON c.code = cd.code CROSS JOIN q
        |  GROUP BY cd.vec_id)
        |SELECT vec_id, ROUND(dist, 6) AS adc_dist
        |FROM adc ORDER BY ROUND(dist, 6), vec_id LIMIT 20""".stripMargin,

    "x105_media_knn" ->
      """WITH b AS (
        |  SELECT doc_id AS media_id, octet_length(encode(text)) AS nb,
        |    list_transform(range(1, length(text) + 1),
        |      i -> ord(substring(text, i, 1)) % 16) AS m
        |  FROM documents),
        |f AS (
        |  SELECT media_id,
        |    list_transform(range(0, 16), d ->
        |      CAST(CAST(len(list_filter(m, x -> x = d)) AS REAL)
        |        / CAST(greatest(nb, 1) AS REAL) AS DOUBLE)) AS v
        |  FROM b),
        |q AS (SELECT v AS qv FROM f WHERE media_id = 0)
        |SELECT f.media_id,
        |  ROUND(list_cosine_similarity(f.v, q.qv), 6) AS cosine_sim
        |FROM f CROSS JOIN q
        |ORDER BY cosine_sim DESC, media_id LIMIT 20""".stripMargin,

    "x99_vector_pool" ->
      """SELECT label AS group_id, CAST(i - 1 AS INT) AS pos,
        |  ROUND(avg(CAST(embedding[i] AS DOUBLE)), 6) AS v
        |FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
        |GROUP BY 1, 2 ORDER BY group_id, pos""".stripMargin,

    "x98_contrastive_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, toks, (len(toks) + 31) // 32 AS nc FROM tok)
        |SELECT doc_id, CAST(i AS INT) AS pair_id,
        |  array_to_string(list_slice(toks, i * 32 + 1, i * 32 + 32), ' ')
        |    AS anchor,
        |  array_to_string(list_slice(toks, (i + 1) * 32 + 1, (i + 1) * 32 + 32), ' ')
        |    AS positive
        |FROM n, UNNEST(CASE WHEN nc >= 2 THEN range(0, nc - 1)
        |  ELSE [] END) AS u(i)
        |ORDER BY doc_id, pair_id""".stripMargin,

    "x97_sequence_map" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0)) AS INTEGER) AS n_tokens
        |  FROM documents),
        |off AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (
        |      ORDER BY source, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS "offset"
        |  FROM tok WHERE n_tokens > 0),
        |inc AS (
        |  SELECT doc_id, source, n_tokens, "offset", s.seq_id
        |  FROM off, UNNEST(range("offset" // 256,
        |    ("offset" + n_tokens - 1) // 256 + 1)) AS s(seq_id))
        |SELECT doc_id, source, n_tokens, "offset", seq_id,
        |  greatest(seq_id * 256 - "offset", 0) AS doc_start,
        |  greatest("offset" - seq_id * 256, 0) AS start_in_seq,
        |  least("offset" + n_tokens, seq_id * 256 + 256)
        |    - greatest("offset", seq_id * 256) AS n_toks
        |FROM inc ORDER BY doc_id, seq_id""".stripMargin,

    "x96_span_mask" ->
      """WITH docs AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 3 = 0
        |    THEN ' graftspan0 graftspan1 graftspan2 graftspan3 graftspan4 graftspan5'
        |    ELSE '' END AS text
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM docs),
        |spans AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(list_slice(toks, i + 1, i + 5), ' ') AS gram
        |  FROM tok, UNNEST(CASE WHEN len(toks) >= 5
        |    THEN range(0, len(toks) - 4) ELSE [] END) AS u(i)),
        |freq AS (SELECT gram FROM spans GROUP BY gram HAVING count(*) >= 3),
        |hits AS (SELECT s.doc_id, s.pos FROM spans s JOIN freq USING (gram)),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + d AS rm
        |  FROM hits, UNNEST(range(0, 5)) AS u(d)),
        |tokpos AS (
        |  SELECT doc_id, i AS pos
        |  FROM tok, UNNEST(CASE WHEN len(toks) > 0
        |    THEN range(0, len(toks)) ELSE [] END) AS u(i)),
        |m AS (
        |  SELECT tp.doc_id,
        |    sum(CASE WHEN c.rm IS NOT NULL THEN 1 ELSE 0 END) AS n_masked,
        |    coalesce(string_agg(CASE WHEN c.rm IS NULL THEN '1' ELSE '0' END,
        |      '' ORDER BY tp.pos), '') AS mask
        |  FROM tokpos tp
        |  LEFT JOIN cov c ON tp.doc_id = c.doc_id AND tp.pos = c.rm
        |  GROUP BY tp.doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(m.n_masked, 0) AS BIGINT) AS n_masked,
        |  coalesce(m.mask, '') AS mask
        |FROM tok t LEFT JOIN m USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // RE2 script-class spelling (\p{Cyrillic}) vs Java's (\p{IsCyrillic})
    // — the documented dialect-translation convention
    "x95_script_profile" ->
      """WITH planted AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 1 THEN ' привет мир'
        |         WHEN doc_id % 4 = 2 THEN ' 你好世界'
        |         WHEN doc_id % 4 = 3 THEN ' مرحبا'
        |         ELSE '' END AS text
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '\p{Latin}')) AS n_latin,
        |    len(regexp_extract_all(text, '\p{Cyrillic}')) AS n_cyrillic,
        |    len(regexp_extract_all(text, '\p{Han}')) AS n_han,
        |    len(regexp_extract_all(text, '\p{Arabic}')) AS n_arabic,
        |    len(regexp_extract_all(text, '[0-9]')) AS n_digit,
        |    len(regexp_extract_all(text, '\s')) AS n_space
        |  FROM planted)
        |SELECT doc_id, CAST(n_latin AS INT) AS n_latin,
        |  CAST(n_cyrillic AS INT) AS n_cyrillic, CAST(n_han AS INT) AS n_han,
        |  CAST(n_arabic AS INT) AS n_arabic, CAST(n_digit AS INT) AS n_digit,
        |  CAST(n_space AS INT) AS n_space,
        |  CASE WHEN n_latin = 0 AND n_cyrillic = 0 AND n_han = 0 AND n_arabic = 0 THEN 'none'
        |       WHEN n_latin >= n_cyrillic AND n_latin >= n_han AND n_latin >= n_arabic THEN 'latin'
        |       WHEN n_cyrillic >= n_han AND n_cyrillic >= n_arabic THEN 'cyrillic'
        |       WHEN n_han >= n_arabic THEN 'han'
        |       ELSE 'arabic' END AS main_script
        |FROM c ORDER BY doc_id""".stripMargin,

    "x94_ngram_diversity" ->
      """WITH corpus AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'srcboiler', 'click here to subscribe now and save big today'
        |  FROM documents WHERE doc_id < 40),
        |tok AS (
        |  SELECT source, list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM corpus),
        |ng AS (
        |  SELECT source, n,
        |    array_to_string(list_slice(toks, i + 1, i + n), ' ') AS g
        |  FROM tok, unnest([1, 2, 3]) AS nn(n),
        |    unnest(range(0, greatest(len(toks) - n + 1, 0))) AS ii(i))
        |SELECT source, CAST(n AS INT) AS n,
        |  count(*) AS n_grams,
        |  count(DISTINCT g) AS n_distinct,
        |  ROUND(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6) AS distinct_ratio
        |FROM ng GROUP BY 1, 2 ORDER BY source, n""".stripMargin,

    "x91_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
        |  FROM embeddings WHERE vec_id < 5),
        |pos AS (
        |  SELECT query_id, query_id AS vec_id FROM q
        |  UNION ALL SELECT query_id, query_id + 7 FROM q),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 6) AS cosine_sim
        |  FROM embeddings e CROSS JOIN q),
        |pruned AS (
        |  SELECT s.* FROM scored s
        |  WHERE NOT EXISTS (SELECT 1 FROM pos p
        |    WHERE p.query_id = s.query_id AND p.vec_id = s.vec_id)),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rn
        |  FROM pruned)
        |SELECT query_id, vec_id, cosine_sim FROM ranked WHERE rn <= 10
        |ORDER BY query_id, cosine_sim DESC, vec_id""".stripMargin,

    "x92_source_overlap" ->
      """WITH corpus AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'srcmirror', text FROM documents WHERE doc_id % 5 = 0),
        |sh AS (
        |  SELECT DISTINCT source AS src, g
        |  FROM (SELECT source,
        |      unnest(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |        ELSE list_transform(range(0, len(toks) - 2),
        |          i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END) AS g
        |    FROM (SELECT source, list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> len(x) > 0) AS toks FROM corpus))),
        |sizes AS (SELECT src, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.src AS source_a, b.src AS source_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.src < b.src
        |  GROUP BY 1, 2)
        |SELECT sa.src AS source_a, sb.src AS source_b,
        |  sa.n AS n_a, sb.n AS n_b,
        |  coalesce(i.n_inter, 0) AS n_inter,
        |  ROUND(CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
        |        (sa.n + sb.n - coalesce(i.n_inter, 0)), 6) AS jaccard
        |FROM sizes sa JOIN sizes sb ON sa.src < sb.src
        |LEFT JOIN inter i ON i.source_a = sa.src AND i.source_b = sb.src
        |ORDER BY source_a, source_b""".stripMargin,

    "x93_fim_transform" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0) AS toks
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, text, toks, len(toks) AS n,
        |    CAST(('0x' || substring(md5(doc_id || '_fim0'), 1, 8)) AS BIGINT) / 4294967296.0 AS u0,
        |    CAST(('0x' || substring(md5(doc_id || '_fim1'), 1, 8)) AS BIGINT) / 4294967296.0 AS u1,
        |    CAST(('0x' || substring(md5(doc_id || '_fim2'), 1, 8)) AS BIGINT) / 4294967296.0 AS u2
        |  FROM t),
        |i AS (
        |  SELECT *, CAST(floor(least(u1, u2) * n) AS INT) AS i1,
        |    CAST(floor(greatest(u1, u2) * n) AS INT) AS i2
        |  FROM u)
        |SELECT doc_id, (u0 < 0.5 AND n >= 1) AS fim_applied,
        |  CASE WHEN u0 < 0.5 AND n >= 1 THEN
        |    '<fim_prefix> ' || coalesce(array_to_string(list_slice(toks, 1, i1), ' '), '')
        |    || ' <fim_suffix> ' || coalesce(array_to_string(list_slice(toks, i2 + 1, n), ' '), '')
        |    || ' <fim_middle> ' || coalesce(array_to_string(list_slice(toks, i1 + 1, i2), ' '), '')
        |  ELSE text END AS text_fim
        |FROM i ORDER BY doc_id""".stripMargin,

    // The stub decode is a byte histogram over the UTF-8 payload; the
    // corpus is pure ASCII (verified: octet_length == length for every
    // doc at every sf), so bytes == codepoints and ord() replays the
    // histogram. The REAL casts reproduce the stub's float32 division
    // bit-for-bit before the 6dp round — this oracle checks the actual
    // mapPartitions feature path, not a parallel formulation.
    "x11_multimodal" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(encode(text)) AS nb,
        |    list_transform(range(1, length(text) + 1),
        |      i -> ord(substring(text, i, 1)) % 16) AS m
        |  FROM documents)
        |SELECT doc_id AS media_id, CAST(nb AS INT) AS n_bytes,
        |  ROUND(CAST(CAST(len(list_filter(m, x -> x = 0)) AS REAL)
        |    / CAST(greatest(nb, 1) AS REAL) AS DOUBLE), 6) AS f0,
        |  ROUND(CAST(CAST(len(list_filter(m, x -> x = 1)) AS REAL)
        |    / CAST(greatest(nb, 1) AS REAL) AS DOUBLE), 6) AS f1
        |FROM b ORDER BY media_id""".stripMargin,

    "x89_media_stats" ->
      """SELECT doc_id AS media_id, 'text/plain' AS media_type,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  md5(text) AS payload_md5,
        |  224 AS target_w, 224 AS target_h,
        |  CAST(doc_id % 5 + 1 AS BIGINT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,

    // f1 uses the UNROUNDED precision/recall (rounding lands only on the
    // output columns), mirroring Dedup.pairMetrics exactly
    "x87_pair_metrics" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000,
        |    array_to_string(list_slice(toks, 1, CAST(floor(len(toks) * 0.8) AS INT)), ' ')
        |  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |        FROM documents WHERE doc_id < 50)),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 2),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END) AS shset
        |  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |        FROM corpus)),
        |tr AS (
        |  SELECT p.id_a AS pa, p.id_b AS pb
        |  FROM (SELECT doc_id - 10000 AS id_a, doc_id AS id_b
        |        FROM corpus WHERE doc_id >= 10000) p
        |  JOIN sh a ON a.doc_id = p.id_a
        |  JOIN sh b ON b.doc_id = p.id_b
        |  WHERE ROUND(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.shset, b.shset))), 6) >= 0.5),
        |pred_raw AS (
        |  SELECT doc_id AS id_a, doc_id + 10000 AS id_b FROM documents WHERE doc_id < 40
        |  UNION ALL SELECT doc_id + 10000, doc_id FROM documents WHERE doc_id < 10
        |  UNION ALL SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id < 10
        |  UNION ALL SELECT doc_id, doc_id FROM documents WHERE doc_id = 7),
        |pred AS (
        |  SELECT DISTINCT least(id_a, id_b) AS pa, greatest(id_a, id_b) AS pb
        |  FROM pred_raw WHERE id_a <> id_b),
        |c AS (
        |  SELECT (SELECT count(*) FROM tr) AS n_true,
        |         (SELECT count(*) FROM pred) AS n_pred,
        |         (SELECT count(*) FROM pred JOIN tr USING (pa, pb)) AS n_hit),
        |pr AS (
        |  SELECT n_true, n_pred, n_hit,
        |    CASE WHEN n_pred = 0 THEN 0.0 ELSE CAST(n_hit AS DOUBLE) / n_pred END AS p,
        |    CASE WHEN n_true = 0 THEN 0.0 ELSE CAST(n_hit AS DOUBLE) / n_true END AS r
        |  FROM c)
        |SELECT n_true, n_pred, n_hit,
        |  ROUND(p, 6) AS precision, ROUND(r, 6) AS recall,
        |  ROUND(CASE WHEN p + r = 0 THEN 0.0 ELSE 2.0 * p * r / (p + r) END, 6) AS f1
        |FROM pr""".stripMargin,

    "x85_pmi_per_token" ->
      """WITH tok AS (
        |  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents),
        |bg AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM tok, unnest(range(1, len(t))) AS u(i)),
        |uni AS (
        |  SELECT w, count(*) AS cnt
        |  FROM (SELECT unnest(t) AS w FROM tok) GROUP BY 1),
        |pairs AS (
        |  SELECT w1, w2, count(*) AS pair_cnt FROM bg GROUP BY 1, 2
        |  HAVING count(*) >= 10),
        |tot AS (
        |  SELECT (SELECT CAST(sum(cnt) AS DOUBLE) FROM uni) AS t,
        |    (SELECT CAST(count(*) AS DOUBLE) FROM bg) AS b),
        |scored AS (
        |  SELECT p.w1, p.w2, p.pair_cnt,
        |    ROUND(ln(p.pair_cnt * tot.t * tot.t
        |      / (tot.b * u1.cnt * u2.cnt)), 6) AS pmi
        |  FROM pairs p
        |  JOIN uni u1 ON u1.w = p.w1
        |  JOIN uni u2 ON u2.w = p.w2
        |  CROSS JOIN tot),
        |r AS (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY w1 ORDER BY pmi DESC, w2) AS rn
        |  FROM scored)
        |SELECT w1, w2, pair_cnt, pmi FROM r WHERE rn <= 3
        |ORDER BY w1, pmi DESC, w2""".stripMargin,

    "x75_pmi_collocations" ->
      """WITH tok AS (
        |  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents),
        |bg AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM tok, unnest(range(1, len(t))) AS u(i)),
        |uni AS (
        |  SELECT w, count(*) AS cnt
        |  FROM (SELECT unnest(t) AS w FROM tok) GROUP BY 1),
        |pairs AS (
        |  SELECT w1, w2, count(*) AS pair_cnt FROM bg GROUP BY 1, 2
        |  HAVING count(*) >= 5),
        |tot AS (
        |  SELECT (SELECT CAST(sum(cnt) AS DOUBLE) FROM uni) AS t,
        |    (SELECT CAST(count(*) AS DOUBLE) FROM bg) AS b)
        |SELECT p.w1, p.w2, p.pair_cnt,
        |  ROUND(ln(p.pair_cnt * tot.t * tot.t
        |    / (tot.b * u1.cnt * u2.cnt)), 6) AS pmi
        |FROM pairs p
        |JOIN uni u1 ON u1.w = p.w1
        |JOIN uni u2 ON u2.w = p.w2
        |CROSS JOIN tot
        |ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin,

    "x73_pagerank" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |nodes AS (SELECT doc_id AS id FROM documents),
        |e AS (
        |  SELECT doc_id AS src, (doc_id * 7 + 3) % (SELECT n FROM nn) AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13 + 5) % (SELECT n FROM nn)
        |  FROM documents),
        |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
        |c1 AS (
        |  SELECT e.dst AS id, sum(r.rank / od.outdeg) AS c
        |  FROM e JOIN od USING (src) JOIN r0 r ON r.id = e.src GROUP BY 1),
        |r1 AS (
        |  SELECT nodes.id,
        |    0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c1.c, 0) AS rank
        |  FROM nodes LEFT JOIN c1 ON nodes.id = c1.id),
        |c2 AS (
        |  SELECT e.dst AS id, sum(r.rank / od.outdeg) AS c
        |  FROM e JOIN od USING (src) JOIN r1 r ON r.id = e.src GROUP BY 1),
        |r2 AS (
        |  SELECT nodes.id,
        |    0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c2.c, 0) AS rank
        |  FROM nodes LEFT JOIN c2 ON nodes.id = c2.id),
        |c3 AS (
        |  SELECT e.dst AS id, sum(r.rank / od.outdeg) AS c
        |  FROM e JOIN od USING (src) JOIN r2 r ON r.id = e.src GROUP BY 1),
        |r3 AS (
        |  SELECT nodes.id,
        |    0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c3.c, 0) AS rank
        |  FROM nodes LEFT JOIN c3 ON nodes.id = c3.id)
        |SELECT id, ROUND(rank, 8) AS rank FROM r3 ORDER BY id""".stripMargin,

    "x72_version_drift" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 3 = 0
        |    THEN ' driftxa driftxa driftxb' ELSE '' END AS text
        |  FROM documents WHERE doc_id % 10 <> 9),
        |c1 AS (
        |  SELECT t AS token, count(*) AS cnt_old
        |  FROM (SELECT unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> len(x) > 0)) AS t FROM v1)
        |  GROUP BY 1),
        |c2 AS (
        |  SELECT t AS token, count(*) AS cnt_new
        |  FROM (SELECT unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> len(x) > 0)) AS t FROM v2)
        |  GROUP BY 1),
        |j AS (
        |  SELECT coalesce(c1.token, c2.token) AS token,
        |    coalesce(cnt_old, 0) AS cnt_old,
        |    coalesce(cnt_new, 0) AS cnt_new
        |  FROM c1 FULL OUTER JOIN c2 ON c1.token = c2.token),
        |tot AS (SELECT sum(cnt_old) AS toto, sum(cnt_new) AS totn FROM j),
        |r AS (
        |  SELECT token, CAST(cnt_old AS BIGINT) AS cnt_old,
        |    CAST(cnt_new AS BIGINT) AS cnt_new,
        |    ROUND(cnt_old / toto, 8) AS p_old,
        |    ROUND(cnt_new / totn, 8) AS p_new,
        |    ROUND(ROUND(cnt_new / totn, 8) - ROUND(cnt_old / toto, 8), 8)
        |      AS delta
        |  FROM j CROSS JOIN tot)
        |SELECT * FROM r ORDER BY abs(delta) DESC, token LIMIT 40""".stripMargin,

    "x71_random_projection" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dims AS (SELECT unnest(range(0, 16)) AS dim),
        |proj AS (
        |  SELECT b.vec_id, d.dim,
        |    ROUND(list_sum(list_transform(range(0, 64), i ->
        |      v[i + 1] * (CASE WHEN CAST(('0x' || substring(
        |          md5('rp_' || CAST(i AS VARCHAR) || '_'
        |            || CAST(d.dim AS VARCHAR)), 1, 1)) AS INTEGER) % 2 = 0
        |        THEN 1.0 ELSE -1.0 END))) / sqrt(16.0), 6) AS value
        |  FROM base b CROSS JOIN dims d)
        |SELECT vec_id, CAST(dim AS INTEGER) AS dim, value
        |FROM proj ORDER BY vec_id, dim""".stripMargin,

    "x65_semantic_dedup" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    list_transform(range(0, len(v)), i -> v[i + 1] * (1.0 + 0.05 * ((i % 3) - 1)))
        |  FROM base WHERE vec_id < 25),
        |cent AS (
        |  SELECT vec_id AS cid, v AS cv FROM base
        |  WHERE vec_id IN (0, 1, 3, 7, 11, 19, 23, 29)),
        |sims AS (
        |  SELECT c.vec_id, c.v, ct.cid,
        |    ROUND(list_cosine_similarity(c.v, ct.cv), 6) AS csim
        |  FROM corpus c CROSS JOIN cent ct),
        |assign AS (
        |  SELECT vec_id, v, cid AS cluster_id, csim AS centroid_sim
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
        |        FROM sims)
        |  WHERE rn = 1),
        |pairs AS (
        |  SELECT * FROM (
        |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |      a.centroid_sim AS ca, b.centroid_sim AS cb,
        |      ROUND(list_cosine_similarity(a.v, b.v), 6) AS ps
        |    FROM assign a JOIN assign b
        |      ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
        |  WHERE ps >= 0.9),
        |dup AS (SELECT DISTINCT unnest([id_a, id_b]) AS did FROM pairs),
        |rem AS (
        |  SELECT DISTINCT CASE WHEN ca > cb THEN id_a
        |    WHEN cb > ca THEN id_b
        |    ELSE greatest(id_a, id_b) END AS rid
        |  FROM pairs)
        |SELECT a.vec_id, a.cluster_id, a.centroid_sim,
        |  (d.did IS NOT NULL) AS is_dup, (r.rid IS NULL) AS kept
        |FROM assign a
        |LEFT JOIN dup d ON a.vec_id = d.did
        |LEFT JOIN rem r ON a.vec_id = r.rid
        |ORDER BY a.vec_id""".stripMargin,

    "x111_semantic_dedup_large" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    list_transform(range(0, len(v)), i -> v[i + 1] * (1.0 + 0.05 * ((i % 3) - 1)))
        |  FROM base WHERE vec_id < 25),
        |cent AS (
        |  SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < 80),
        |sims AS (
        |  SELECT c.vec_id, c.v, ct.cid,
        |    ROUND(list_cosine_similarity(c.v, ct.cv), 6) AS csim
        |  FROM corpus c CROSS JOIN cent ct),
        |assign AS (
        |  SELECT vec_id, v, cid AS cluster_id, csim AS centroid_sim
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
        |        FROM sims)
        |  WHERE rn = 1),
        |pairs AS (
        |  SELECT * FROM (
        |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |      a.centroid_sim AS ca, b.centroid_sim AS cb,
        |      ROUND(list_cosine_similarity(a.v, b.v), 6) AS ps
        |    FROM assign a JOIN assign b
        |      ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
        |  WHERE ps >= 0.9),
        |dup AS (SELECT DISTINCT unnest([id_a, id_b]) AS did FROM pairs),
        |rem AS (
        |  SELECT DISTINCT CASE WHEN ca > cb THEN id_a
        |    WHEN cb > ca THEN id_b
        |    ELSE greatest(id_a, id_b) END AS rid
        |  FROM pairs)
        |SELECT a.vec_id, a.cluster_id, a.centroid_sim,
        |  (d.did IS NOT NULL) AS is_dup, (r.rid IS NULL) AS kept
        |FROM assign a
        |LEFT JOIN dup d ON a.vec_id = d.did
        |LEFT JOIN rem r ON a.vec_id = r.rid
        |ORDER BY a.vec_id""".stripMargin,

    "x66_token_offsets" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0)) AS INTEGER) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, source, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (
        |    ORDER BY source, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS offset
        |FROM tok ORDER BY doc_id""".stripMargin,

    "x68_bpe_learn" ->
      """SELECT CAST(0 AS INTEGER) AS merge_idx, 'u' AS left_sym,
        |  'g' AS right_sym, CAST(5 AS BIGINT) AS pair_count
        |UNION ALL SELECT 1, 'h', 'ug', 4
        |UNION ALL SELECT 2, 'u', 'n', 2
        |UNION ALL SELECT 3, 'b', 'un', 1
        |ORDER BY merge_idx""".stripMargin,

    "x70_bpe_encode" ->
      """SELECT CAST(1 AS BIGINT) AS doc_id, 'hug' AS text,
        |  'hug' AS segmented, CAST(1 AS INTEGER) AS n_bpe_tokens
        |UNION ALL SELECT 2, 'hugs', 'hug s', 2
        |UNION ALL SELECT 3, 'pug', 'p ug', 2
        |UNION ALL SELECT 4, 'bun', 'bun', 1
        |UNION ALL SELECT 5, 'hugger', 'hug g e r', 4
        |ORDER BY doc_id""".stripMargin,

    "x67_rare_ngram_pairs" ->
      """WITH docs AS (
        |  SELECT doc_id, text
        |    || ' ra' || CAST(doc_id % 150 AS VARCHAR)
        |    || ' rb' || CAST(doc_id % 150 AS VARCHAR)
        |    || ' rc' || CAST(doc_id % 150 AS VARCHAR)
        |    || ' rd' || CAST(doc_id % 150 AS VARCHAR) AS text
        |  FROM documents WHERE doc_id < 600),
        |tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM docs),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS gk1,
        |    CAST(('0x' || substring(md5(g), 16, 15)) AS BIGINT) AS gk2
        |  FROM (SELECT doc_id, unnest(
        |      CASE WHEN len(t) >= 3 THEN
        |        list_transform(range(0, len(t) - 2),
        |          i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))
        |      ELSE CAST([] AS VARCHAR[]) END) AS g
        |    FROM tok)),
        |rare AS (
        |  SELECT gk1, gk2 FROM grams GROUP BY gk1, gk2
        |  HAVING count(*) BETWEEN 2 AND 8),
        |rg AS (SELECT g.* FROM grams g JOIN rare USING (gk1, gk2))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM rg a JOIN rg b ON a.gk1 = b.gk1 AND a.gk2 = b.gk2
        |  AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY 1, 2""".stripMargin,

    "x55_paragraph_decontam" ->
      """WITH paras AS (
        |  SELECT doc_id, 0 AS pos, regexp_replace(text, '\n+', ' ', 'g') AS para
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 1,
        |    'zqbench0 zqbench1 zqbench2 zqbench3 zqbench4 extra tail here'
        |  FROM documents WHERE doc_id % 4 = 0),
        |bsh AS (
        |  SELECT DISTINCT unnest(
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 2),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END) AS sh
        |  FROM (SELECT list_filter(string_split_regex(trim(b.text), '\s+'),
        |          x -> len(x) > 0) AS toks
        |        FROM (SELECT 'zqbench0 zqbench1 zqbench2 zqbench3 zqbench4' AS text
        |              UNION ALL
        |              SELECT 'unrelated bench entry nothing matches') b)),
        |psh AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 2),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END AS shs
        |  FROM (SELECT doc_id, pos,
        |          list_filter(string_split_regex(trim(para), '\s+'),
        |            x -> len(x) > 0) AS toks
        |        FROM paras)),
        |hits AS (
        |  SELECT DISTINCT doc_id, pos FROM psh, bsh
        |  WHERE list_contains(psh.shs, bsh.sh))
        |SELECT p.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(count(h.pos) AS BIGINT) AS n_removed,
        |  coalesce(string_agg(CASE WHEN h.pos IS NULL THEN p.para END,
        |    chr(10)||chr(10) ORDER BY p.pos), '') AS clean_text
        |FROM paras p
        |LEFT JOIN hits h ON p.doc_id = h.doc_id AND p.pos = h.pos
        |GROUP BY p.doc_id
        |ORDER BY p.doc_id""".stripMargin,

    "x32_chunking" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, toks, unnest(
        |    CASE WHEN len(toks) = 0 THEN CAST([] AS BIGINT[])
        |         WHEN len(toks) <= 8 THEN [CAST(0 AS BIGINT)]
        |         ELSE range(0, len(toks) - 8, 24) END) AS start
        |  FROM tok)
        |SELECT doc_id, CAST(start // 24 AS INT) AS chunk_idx,
        |  CAST(len(list_slice(toks, start + 1, start + 32)) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS chunk_text
        |FROM st""".stripMargin,

    "x31_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
        |    ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
        |  FROM scored)
        |SELECT doc_id, token, tf, df, tfidf FROM ranked WHERE rn <= 3""".stripMargin,

    "x30_sequence_packing" ->
      """WITH tc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS token_cnt
        |  FROM documents),
        |c AS (
        |  SELECT *, sum(token_cnt) OVER (
        |    PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM tc)
        |SELECT doc_id, lang, CAST(token_cnt AS BIGINT) AS token_cnt,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  CAST(floor((cum_tokens - token_cnt) / 2048.0) AS BIGINT) AS pack_id
        |FROM c""".stripMargin,

    "x29_vocab_topk" ->
      """WITH tok AS (
        |  SELECT lang, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |counts AS (SELECT lang, token, count(*) AS token_freq FROM tok GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY lang ORDER BY token_freq DESC, token) AS rn
        |  FROM counts)
        |SELECT lang, token, token_freq FROM ranked WHERE rn <= 10""".stripMargin,

    "x28_boilerplate" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 0
        |      THEN 'function() { please enable javascript ' ||
        |        CASE WHEN doc_id % 13 = 0 THEN text || ' lorem ipsum dolor sit amet' ELSE text END
        |      WHEN doc_id % 13 = 0 THEN text || ' lorem ipsum dolor sit amet'
        |      ELSE text END AS text
        |  FROM documents),
        |flags AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS word_cnt,
        |    regexp_matches(text, '[.!?"'']\s*$') AS ends_terminal,
        |    contains(text, '{') AS has_curly,
        |    contains(lower(text), 'lorem ipsum') AS has_lorem,
        |    regexp_matches(lower(text), 'enable javascript|javascript is required|cookies enabled') AS has_js_boilerplate
        |  FROM planted)
        |SELECT doc_id, CAST(word_cnt AS BIGINT) AS word_cnt, ends_terminal,
        |  has_curly, has_lorem, has_js_boilerplate,
        |  (word_cnt >= 5 AND word_cnt <= 100000 AND NOT has_curly
        |    AND NOT has_lorem AND NOT has_js_boilerplate) AS keep
        |FROM flags""".stripMargin,

    "x23_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) <= 2 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 1),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 2), ' ')) END AS grams
        |  FROM tok)
        |SELECT doc_id,
        |  CAST(len(grams) AS BIGINT) AS n_ngrams,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_ngrams,
        |  CASE WHEN len(grams) > 0
        |    THEN ROUND(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 6)
        |    ELSE 0.0 END AS repetition
        |FROM sh""".stripMargin,

    "x20_pii_scrub" ->
      """WITH withpii AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN text || ' contact jane.doe@example.com or 555-123-4567 at 10.0.0.1'
        |      ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4s,
        |  CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '[PHONE]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')) AS BIGINT) AS scrubbed_len
        |FROM withpii""".stripMargin,

    "x25_pii_extended" ->
      """WITH withpii AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN text || ' ssn 123-45-6789 card 4532-0151-1283-0366 backup 4111111111111111 invalid 1234-5678-9012-3456 intl +44 20 7946 0958'
        |      ELSE text END AS text
        |  FROM documents),
        |ext AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b') AS ssns,
        |    regexp_extract_all(text, '\b\d{4}[- ]?\d{4}[- ]?\d{4}[- ]?\d{4}\b') AS cards,
        |    regexp_extract_all(text, '\+\d{1,3}[- ]\d{2,4}[- ]\d{3,4}[- ]\d{3,4}\b') AS intls
        |  FROM withpii)
        |SELECT doc_id,
        |  CAST(len(ssns) AS BIGINT) AS n_ssns,
        |  CAST(len(cards) AS BIGINT) AS n_cards,
        |  CAST(len(list_filter(list_transform(cards, c -> regexp_replace(c, '[- ]', '', 'g')),
        |    d -> list_sum(list_transform(range(0, len(d)), i ->
        |      CASE WHEN i % 2 = 0 THEN CAST(d[len(d) - i] AS INT)
        |           WHEN 2 * CAST(d[len(d) - i] AS INT) > 9 THEN 2 * CAST(d[len(d) - i] AS INT) - 9
        |           ELSE 2 * CAST(d[len(d) - i] AS INT) END)) % 10 = 0)) AS BIGINT) AS n_valid_cards,
        |  CAST(len(intls) AS BIGINT) AS n_intl_phones,
        |  CAST(length(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{4}[- ]?\d{4}[- ]?\d{4}[- ]?\d{4}\b', '[CARD]', 'g'),
        |      '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
        |      '\+\d{1,3}[- ]\d{2,4}[- ]\d{3,4}[- ]\d{3,4}\b', '[INTL_PHONE]', 'g'),
        |      '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '[PHONE]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')) AS BIGINT) AS scrubbed_len
        |FROM ext""".stripMargin,

    "x18_embedding_dedup" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id < 500),
        |corpus AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    list_transform(range(0, len(v)), i -> v[i + 1] * (1.0 + 0.05 * ((i % 3) - 1)))
        |  FROM base WHERE vec_id < 25)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
        |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.9""".stripMargin,

    "x24_knn_batch" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
        |  FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 6) AS cosine_sim
        |  FROM embeddings e CROSS JOIN q),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rn
        |  FROM scored)
        |SELECT query_id, vec_id, cosine_sim FROM ranked WHERE rn <= 10""".stripMargin,

    // Full register replay per source: md5 -> bucket/rho -> max -> the
    // identical float estimator (see hllCtesSql for the determinism
    // argument: every 2^-rho term and their sum are exact dyadics).
    "x136_hll_cardinality" ->
      (s"""WITH ${hllCtesSql(Some("source"))},
         |ex AS (SELECT source, count(DISTINCT tok) AS exact_distinct
         |  FROM tok GROUP BY 1)
         |SELECT e.source, CAST(e.n_registers AS BIGINT) AS n_registers,
         |  e.est, CAST(x.exact_distinct AS BIGINT) AS exact_distinct
         |FROM est e JOIN ex x USING (source) ORDER BY e.source""".stripMargin),

    // The persisted store after even-build + odd-ingest equals the
    // full-corpus registers (max-merge exactness), so the oracle replays
    // the GLOBAL registers and pins the register state itself via the
    // (bucket+1)*rho checksum, then the estimate and exact distinct.
    "x137_hll_store_ingest" ->
      (s"""WITH ${hllCtesSql(None)},
         |ck AS (SELECT CAST(sum((bucket + 1) * rho) AS BIGINT) AS reg_checksum
         |  FROM reg),
         |ex AS (SELECT count(DISTINCT tok) AS exact_distinct FROM tok)
         |SELECT CAST(e.n_registers AS BIGINT) AS n_registers,
         |  ck.reg_checksum, e.est,
         |  CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
         |FROM est e, ck, ex""".stripMargin),

    // Exact-regime replay: per-source group sizes (<= 250 at every SF)
    // stay under k=256, so the sketch holds every value at weight 1 and
    // each quantile is the value AT rank ceil(p*n) of the sorted group.
    // Probs ride as DOUBLEs on both sides so ceil sees the identical
    // IEEE product.
    "x138_kll_quantiles" ->
      """WITH v AS (
        |  SELECT source, CAST(n_chars AS DOUBLE) AS v FROM documents),
        |n AS (SELECT source, count(*) AS n FROM v GROUP BY 1),
        |r AS (SELECT source, v,
        |    row_number() OVER (PARTITION BY source ORDER BY v) AS rk
        |  FROM v),
        |p AS (SELECT unnest([CAST(0.1 AS DOUBLE), CAST(0.5 AS DOUBLE),
        |    CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS p),
        |t AS (SELECT n.source, p.p,
        |    GREATEST(1, CAST(ceil(p.p * n.n) AS BIGINT)) AS tgt, n.n
        |  FROM n CROSS JOIN p)
        |SELECT t.source, t.p, r.v AS q, t.n AS n_exact
        |FROM t JOIN r ON r.source = t.source AND r.rk = t.tgt
        |ORDER BY t.source, t.p""".stripMargin,

    // Kneser-Ney replay: the model's four count tables from the SAME
    // bigram-type frame, the scored side x117's rotated-copy mutation;
    // the probability expression mirrors knBigramNll's operation order
    // exactly ((d*n1f)/c1 then *pcont; +0.5 floors) so binary64 agrees
    "x141_kneser_ney" ->
      """WITH mtok AS (
        |  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS ts
        |  FROM documents),
        |bi AS (SELECT a, b, count(*) AS c
        |  FROM (SELECT ts[i] AS a, ts[i + 1] AS b
        |        FROM mtok, UNNEST(range(1, len(ts))) AS u(i)) GROUP BY a, b),
        |ctx AS (SELECT a, CAST(sum(c) AS DOUBLE) AS c1,
        |    CAST(count(*) AS DOUBLE) AS n1f
        |  FROM bi GROUP BY a),
        |pred AS (SELECT b, CAST(count(*) AS DOUBLE) AS n1p FROM bi GROUP BY b),
        |tot AS (SELECT
        |    (SELECT CAST(count(*) AS DOUBLE) FROM bi) AS t,
        |    (SELECT CAST(count(*) AS DOUBLE) FROM
        |      (SELECT a AS w FROM bi UNION SELECT b AS w FROM bi)) AS v),
        |dtok AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> len(x) > 0) AS ts0
        |  FROM documents),
        |mut AS (
        |  SELECT doc_id,
        |    concat_ws(' ', ts0[len(ts0)], text,
        |      CASE WHEN doc_id % 5 = 0 THEN 'zzqx zzqy' ELSE '' END) AS text
        |  FROM dtok),
        |dts AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS ts
        |  FROM mut),
        |dbg AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        |  FROM dts, UNNEST(range(1, len(ts))) AS u(i)),
        |sc AS (
        |  SELECT d.doc_id,
        |    CASE WHEN ctx.c1 IS NOT NULL THEN
        |      GREATEST(CAST(coalesce(b.c, 0) AS DOUBLE) - 0.75, 0.0) / ctx.c1
        |        + (0.75 * ctx.n1f / ctx.c1) *
        |          ((coalesce(pred.n1p, 0) + 0.5) / (tot.t + 0.5 * tot.v))
        |    ELSE (coalesce(pred.n1p, 0) + 0.5) / (tot.t + 0.5 * tot.v)
        |    END AS p
        |  FROM dbg d
        |  LEFT JOIN bi b ON b.a = d.w1 AND b.b = d.w2
        |  LEFT JOIN ctx ON ctx.a = d.w1
        |  LEFT JOIN pred ON pred.b = d.w2, tot),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    ROUND(avg(-ln(p)), 6) AS kn_nll
        |  FROM sc GROUP BY doc_id)
        |SELECT m.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
        |  coalesce(a.kn_nll, 0.0) AS kn_nll
        |FROM mut m LEFT JOIN agg a ON m.doc_id = a.doc_id
        |ORDER BY m.doc_id""".stripMargin,

    // The deletion-neighborhood plan is recall-complete for ed<=1, so
    // the oracle is the formulation the blocking AVOIDS: all pairs,
    // levenshtein-filtered
    "x142_edit_distance" ->
      """WITH titles AS (
        |  SELECT doc_id AS id,
        |    array_to_string(list_slice(list_filter(
        |      string_split_regex(trim(text), '\s+'), x -> len(x) > 0),
        |      1, 3), ' ') AS title
        |  FROM documents),
        |mut AS (
        |  SELECT id + 100000 AS id,
        |    substr(title, 1, 2) || substr(title, 4) AS title
        |  FROM titles WHERE id % 4 = 0),
        |allr AS (SELECT * FROM titles UNION ALL SELECT * FROM mut)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.title, b.title) AS INT) AS dist
        |FROM allr a JOIN allr b ON a.id < b.id
        |WHERE levenshtein(a.title, b.title) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    // BLEU replay: the clipped counts the native expression computes
    // per row, re-derived by exploding candidate and reference grams per
    // order and LEFT-joining on the gram key; probability arithmetic
    // mirrors bleuScore's operation order
    "x143_bleu_score" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> len(x) > 0) AS ts
        |  FROM documents),
        |pair AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN list_slice(ts, 1, 10)
        |         ELSE list_concat(list_slice(ts, 1, 20), list_slice(ts, 1, 6))
        |    END AS c,
        |    list_slice(ts, 1, 24) AS r
        |  FROM base),
        |cg AS (
        |  SELECT doc_id, n, array_to_string(list_slice(c, i, i + n - 1), ' ') AS g,
        |    count(*) AS cc
        |  FROM pair, UNNEST([1, 2, 3, 4]) AS tn(n),
        |    UNNEST(range(1, len(c) - n + 2)) AS u(i)
        |  GROUP BY 1, 2, 3),
        |rg AS (
        |  SELECT doc_id, n, array_to_string(list_slice(r, i, i + n - 1), ' ') AS g,
        |    count(*) AS cc
        |  FROM pair, UNNEST([1, 2, 3, 4]) AS tn(n),
        |    UNNEST(range(1, len(r) - n + 2)) AS u(i)
        |  GROUP BY 1, 2, 3),
        |cl AS (
        |  SELECT cg.doc_id, cg.n,
        |    CAST(sum(least(cg.cc, coalesce(rg.cc, 0))) AS DOUBLE) AS clipped,
        |    CAST(sum(cg.cc) AS DOUBLE) AS total
        |  FROM cg LEFT JOIN rg
        |    ON rg.doc_id = cg.doc_id AND rg.n = cg.n AND rg.g = cg.g
        |  GROUP BY 1, 2),
        |pn AS (
        |  SELECT doc_id,
        |    coalesce(max(CASE WHEN n = 1 THEN clipped / total END), 0.0) AS p1r,
        |    coalesce(max(CASE WHEN n = 2 THEN clipped / total END), 0.0) AS p2r,
        |    coalesce(max(CASE WHEN n = 3 THEN clipped / total END), 0.0) AS p3r,
        |    coalesce(max(CASE WHEN n = 4 THEN clipped / total END), 0.0) AS p4r
        |  FROM cl GROUP BY doc_id),
        |fin AS (
        |  SELECT p.doc_id, len(p.c) AS cl, len(p.r) AS rl,
        |    coalesce(pn.p1r, 0.0) AS p1r, coalesce(pn.p2r, 0.0) AS p2r,
        |    coalesce(pn.p3r, 0.0) AS p3r, coalesce(pn.p4r, 0.0) AS p4r,
        |    CASE WHEN len(p.c) >= len(p.r) THEN 1.0
        |         WHEN len(p.c) = 0 THEN 0.0
        |         ELSE exp(1.0 - CAST(len(p.r) AS DOUBLE) / CAST(len(p.c) AS DOUBLE))
        |    END AS bp
        |  FROM pair p LEFT JOIN pn ON pn.doc_id = p.doc_id)
        |SELECT doc_id, CAST(cl AS INT) AS cand_len, CAST(rl AS INT) AS ref_len,
        |  ROUND(p1r, 6) AS p1, ROUND(p2r, 6) AS p2,
        |  ROUND(p3r, 6) AS p3, ROUND(p4r, 6) AS p4,
        |  ROUND(bp, 6) AS brevity,
        |  ROUND(CASE WHEN cl = 0 OR p1r = 0 OR p2r = 0 OR p3r = 0 OR p4r = 0
        |    THEN 0.0
        |    ELSE bp * exp((ln(p1r) + ln(p2r) + ln(p3r) + ln(p4r)) / 4.0)
        |  END, 6) AS bleu
        |FROM fin
        |ORDER BY doc_id""".stripMargin,

    // Streamed windowed counts ≡ batch GROUP BY: chronological batches
    // mean the watermark never drops a row, and append mode emits each
    // finalized window exactly once — so the sink replays as the plain
    // batch aggregation
    "x144_stream_windowed" ->
      """SELECT date_trunc('hour', ts) AS window_start,
        |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY window_start, event_type""".stripMargin,

    // Moments replay: identical decimal-exact sums and rounded-moment
    // covariance expression, pair fanout via lateral ranges
    "x145_embedding_moments" ->
      """WITH v AS (
        |  SELECT list_slice(CAST(embedding AS DOUBLE[]), 1, 8) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT i,
        |    ROUND(CAST(sum(CAST(v[i + 1] AS DECIMAL(38,18))) AS DOUBLE)
        |      / count(*), 6) AS m
        |  FROM v, UNNEST(range(0, 8)) AS u(i) GROUP BY i),
        |e AS (
        |  SELECT i, j, count(*) AS n,
        |    ROUND(CAST(sum(CAST(v[i + 1] * v[j + 1] AS DECIMAL(38,18))) AS DOUBLE)
        |      / count(*), 6) AS exy
        |  FROM v, UNNEST(range(0, 8)) AS u(i), UNNEST(range(i, 8)) AS w(j)
        |  GROUP BY i, j)
        |SELECT CAST(e.j AS INT) AS j, CAST(e.i AS INT) AS i, e.n,
        |  mi.m AS m_i, mj.m AS m_j, e.exy,
        |  ROUND((e.exy - mi.m * mj.m) * CAST(e.n AS DOUBLE)
        |    / (CAST(e.n AS DOUBLE) - 1.0), 6) AS cov
        |FROM e JOIN m mi ON mi.i = e.i JOIN m mj ON mj.i = e.j
        |ORDER BY i, j""".stripMargin,

    // Streamed sessionization replay: gaps-and-islands over ms-truncated
    // event times (the stream's state precision); a session continues
    // iff the gap is <= 30 minutes, matching the operator's comparison
    "x146_stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('milliseconds', ts) AS ts,
        |    CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
        |  FROM e),
        |g AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  ROUND(sum(value), 2) AS total_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // Stream-stream interval join replay: the batch self-join — inner
    // time-bound joins emit every pair exactly once
    "x147_stream_interval_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  p.ts AS purchase_ts, e.event_id AS error_id, e.ts AS error_ts
        |FROM events p JOIN events e
        |  ON e.user_id = p.user_id
        |  AND p.event_type = 'purchase' AND e.event_type = 'error'
        |  AND e.ts >= p.ts - INTERVAL 3600 SECONDS AND e.ts <= p.ts
        |ORDER BY purchase_id, error_id""".stripMargin,

    // MaxSim replay: 8x8 reshape via lateral range, per-(doc, q-token)
    // max of 6dp cosines, decimal-exact per-doc sum
    "x148_maxsim_rerank" ->
      """WITH tok AS (
        |  SELECT vec_id, k AS tok_id,
        |    list_slice(CAST(embedding AS DOUBLE[]), k * 8 + 1, k * 8 + 8) AS tvec
        |  FROM embeddings, UNNEST(range(0, 8)) AS u(k)),
        |q AS (SELECT tok_id, tvec AS qvec FROM tok WHERE vec_id = 0),
        |sc AS (
        |  SELECT t.vec_id, q.tok_id,
        |    max(ROUND(list_cosine_similarity(t.tvec, q.qvec), 6)) AS mx
        |  FROM tok t CROSS JOIN q
        |  WHERE t.vec_id != 0
        |  GROUP BY t.vec_id, q.tok_id),
        |agg AS (
        |  SELECT vec_id,
        |    ROUND(CAST(sum(CAST(mx AS DECIMAL(38,18))) AS DOUBLE), 6) AS maxsim
        |  FROM sc GROUP BY vec_id)
        |SELECT vec_id, maxsim FROM agg
        |ORDER BY maxsim DESC, vec_id LIMIT 20""".stripMargin,

    // NDCG replay: x84's projection/ranking CTEs, truncated-graded
    // gains, per-rank 6dp terms over the SAME discount literals the
    // plan burns in, decimal-exact per-query sums
    "x150_ndcg_eval" -> {
      val discountCase = graft.ops.Similarity.ndcgDiscounts(10)
        .zipWithIndex.map { case (d, i) => s"WHEN ${i + 1} THEN $d" }
        .mkString("CASE rn ", " ", " END")
      val discountCaseA = discountCase.replace("CASE rn", "CASE a.rn")
      s"""WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM base
        |  WHERE vec_id < 5),
        |exact AS (
        |  SELECT query_id, vec_id, cs AS rel, rn FROM (
        |    SELECT q.query_id, e.vec_id,
        |      ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cs,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY ROUND(list_cosine_similarity(e.v, q.qv), 6)
        |          DESC, e.vec_id) AS rn
        |    FROM base e CROSS JOIN q)
        |  WHERE rn <= 10),
        |proj AS (
        |  SELECT vec_id, list_transform(range(0, 16), d ->
        |    ROUND(list_sum(list_transform(range(0, 64), i ->
        |      v[i + 1] * (CASE WHEN CAST(('0x' || substring(
        |          md5('rp_' || CAST(i AS VARCHAR) || '_'
        |            || CAST(d AS VARCHAR)), 1, 1)) AS INTEGER) % 2 = 0
        |        THEN 1.0 ELSE -1.0 END))) / sqrt(16.0), 6)) AS pv
        |  FROM base),
        |pq AS (
        |  SELECT p.vec_id AS query_id, p.pv AS qpv
        |  FROM proj p WHERE p.vec_id < 5),
        |approx AS (
        |  SELECT query_id, vec_id, rn FROM (
        |    SELECT pq.query_id, p.vec_id, row_number() OVER (
        |        PARTITION BY pq.query_id
        |        ORDER BY ROUND(list_cosine_similarity(p.pv, pq.qpv), 6)
        |          DESC, p.vec_id) AS rn
        |    FROM proj p CROSS JOIN pq)
        |  WHERE rn <= 10),
        |ap AS (
        |  SELECT a.query_id, a.rn, e.rel IS NOT NULL AS hit,
        |    ROUND((CASE WHEN e.rel IS NOT NULL THEN (e.rel + 1.0) / 2.0
        |      ELSE 0.0 END) / ($discountCaseA), 6) AS t
        |  FROM approx a LEFT JOIN exact e
        |    ON e.query_id = a.query_id AND e.vec_id = a.vec_id),
        |dcg AS (
        |  SELECT query_id,
        |    ROUND(CAST(sum(CAST(t AS DECIMAL(38,18))) AS DOUBLE), 6) AS dcg,
        |    min(CASE WHEN hit THEN rn END) AS hitrn
        |  FROM ap GROUP BY 1),
        |idt AS (
        |  SELECT query_id,
        |    ROUND(((rel + 1.0) / 2.0) / ($discountCase), 6) AS t
        |  FROM exact),
        |idcg AS (
        |  SELECT query_id,
        |    ROUND(CAST(sum(CAST(t AS DECIMAL(38,18))) AS DOUBLE), 6) AS idcg
        |  FROM idt GROUP BY 1)
        |SELECT d.query_id, d.dcg, i.idcg,
        |  ROUND(CASE WHEN i.idcg = 0 THEN 0.0 ELSE d.dcg / i.idcg END, 6)
        |    AS ndcg,
        |  ROUND(CASE WHEN d.hitrn IS NULL THEN 0.0
        |    ELSE 1.0 / d.hitrn END, 6) AS mrr
        |FROM dcg d JOIN idcg i USING (query_id)
        |ORDER BY query_id""".stripMargin
    },

    // Streamed dedup replay: redelivered duplicates carry identical
    // content, so the deduped stream IS the original table
    "x152_stream_dedup" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events
        |ORDER BY event_id""".stripMargin,

    // Benford replay: decimal-string leading digit, JVM expectation
    // literals, fixed-order chi-square arithmetic
    "x153_benford_profile" -> {
      val expCase = graft.quality.DataQuality.benfordExpected
        .zipWithIndex.map { case (p, i) => s"WHEN ${i + 1} THEN $p" }
        .mkString("CASE d.digit ", " ", " END")
      s"""WITH lead AS (
        |  SELECT CAST(regexp_extract(
        |      CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR),
        |      '[1-9]', 0) AS INT) AS digit
        |  FROM events
        |  WHERE regexp_extract(
        |    CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR), '[1-9]', 0)
        |    <> ''),
        |c AS (SELECT digit, count(*) AS n_obs FROM lead GROUP BY digit),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM lead),
        |d AS (SELECT unnest(range(1, 10)) AS digit)
        |SELECT CAST(d.digit AS INT) AS digit,
        |  coalesce(c.n_obs, 0) AS n_obs,
        |  ROUND(CAST(coalesce(c.n_obs, 0) AS DOUBLE) / tot.n, 6) AS obs_frac,
        |  ROUND(($expCase), 6) AS exp_frac,
        |  ROUND((CAST(coalesce(c.n_obs, 0) AS DOUBLE) - tot.n * ($expCase))
        |    * (CAST(coalesce(c.n_obs, 0) AS DOUBLE) - tot.n * ($expCase))
        |    / (tot.n * ($expCase)), 6) AS chi2_term
        |FROM d LEFT JOIN c ON c.digit = d.digit, tot
        |ORDER BY digit""".stripMargin
    },

    // k-anonymity replay: one grouped count, risky below k
    "x154_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  c_acctbal >= 0 AS acct_positive,
        |  count(*) AS n, count(*) < 5 AS risky
        |FROM customer
        |GROUP BY 1, 2, 3
        |ORDER BY c_nationkey, c_mktsegment, acct_positive""".stripMargin,

    // DP-counts replay: identical md5-uniform (half-step offset keeps u
    // strictly inside (0,1) — the ln(0) endpoint guard), inverse-CDF
    // Laplace with the same operation order
    "x155_dp_counts" ->
      """WITH c AS (
        |  SELECT event_type, count(*) AS n FROM events GROUP BY 1),
        |u AS (
        |  SELECT event_type, n,
        |    (CAST(('0x' || substring(md5('graft11|' || event_type), 1, 13))
        |      AS BIGINT) + 0.5) / 4503599627370496.0 AS u
        |  FROM c),
        |ns AS (
        |  SELECT event_type, n,
        |    ROUND((-1.0 / 0.5) * (CASE WHEN u - 0.5 > 0 THEN 1.0
        |        WHEN u - 0.5 < 0 THEN -1.0 ELSE 0.0 END)
        |      * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noise
        |  FROM u)
        |SELECT event_type, n, noise, ROUND(n + noise, 6) AS noisy_n
        |FROM ns
        |ORDER BY event_type""".stripMargin,

    // OLS replay: per-row terms snapped to the 6dp micro-unit grid
    // before integer-exact summation (the x135/mean6Exact convention —
    // a raw double->DECIMAL cast diverges cross-engine at epoch-day
    // product magnitudes), identical closed-form operation order
    // (epoch_us keeps microseconds where DuckDB's epoch() truncates to
    // whole seconds)
    "x156_trend_regression" ->
      """WITH e AS (
        |  SELECT event_type,
        |    (epoch_us(ts) / 1000000.0) / 86400.0 AS x,
        |    CAST(value AS DOUBLE) AS y
        |  FROM events),
        |a AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(SUM(CAST(ROUND(x * 1000000) AS HUGEINT)) AS DOUBLE)
        |      / 1000000.0 AS sx,
        |    CAST(SUM(CAST(ROUND(y * 1000000) AS HUGEINT)) AS DOUBLE)
        |      / 1000000.0 AS sy,
        |    CAST(SUM(CAST(ROUND(x * y * 1000000) AS HUGEINT)) AS DOUBLE)
        |      / 1000000.0 AS sxy,
        |    CAST(SUM(CAST(ROUND(x * x * 1000000) AS HUGEINT)) AS DOUBLE)
        |      / 1000000.0 AS sxx,
        |    CAST(SUM(CAST(ROUND(y * y * 1000000) AS HUGEINT)) AS DOUBLE)
        |      / 1000000.0 AS syy
        |  FROM e GROUP BY 1),
        |f AS (
        |  SELECT event_type, n, sx, sy,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS den,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS num,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS deny
        |  FROM a)
        |SELECT event_type, n,
        |  ROUND(CASE WHEN den = 0 THEN 0.0 ELSE num / den END, 6) AS slope,
        |  ROUND((sy - (CASE WHEN den = 0 THEN 0.0 ELSE num / den END) * sx)
        |    / CAST(n AS DOUBLE), 6) AS intercept,
        |  ROUND(CASE WHEN den = 0 OR deny = 0 THEN 0.0
        |    ELSE num * num / (den * deny) END, 6) AS r2
        |FROM f
        |ORDER BY event_type""".stripMargin,

    // Store-incremental SemDeDup replay: the BATCH formulation over the
    // union of both ingested shards (x65's oracle re-aliased to the
    // store's output columns) — passing means the shard-by-shard store
    // state equals full-corpus semanticDedup, the frozen-centroid
    // equivalence contract
    "x157_semdedup_store" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    list_transform(range(0, len(v)), i -> v[i + 1] * (1.0 + 0.05 * ((i % 3) - 1)))
        |  FROM base WHERE vec_id < 25),
        |cent AS (
        |  SELECT vec_id AS cid, v AS cv FROM base
        |  WHERE vec_id IN (0, 1, 3, 7, 11, 19, 23, 29)),
        |sims AS (
        |  SELECT c.vec_id, c.v, ct.cid,
        |    ROUND(list_cosine_similarity(c.v, ct.cv), 6) AS csim
        |  FROM corpus c CROSS JOIN cent ct),
        |assign AS (
        |  SELECT vec_id, v, cid AS cluster_id, csim AS centroid_sim
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
        |        FROM sims)
        |  WHERE rn = 1),
        |pairs AS (
        |  SELECT * FROM (
        |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |      a.centroid_sim AS ca, b.centroid_sim AS cb,
        |      ROUND(list_cosine_similarity(a.v, b.v), 6) AS ps
        |    FROM assign a JOIN assign b
        |      ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
        |  WHERE ps >= 0.9),
        |dup AS (SELECT DISTINCT unnest([id_a, id_b]) AS did FROM pairs),
        |rem AS (
        |  SELECT DISTINCT CASE WHEN ca > cb THEN id_a
        |    WHEN cb > ca THEN id_b
        |    ELSE greatest(id_a, id_b) END AS rid
        |  FROM pairs)
        |SELECT a.vec_id AS id, a.cluster_id, a.centroid_sim,
        |  (d.did IS NOT NULL) AS is_dup, (r.rid IS NULL) AS kept
        |FROM assign a
        |LEFT JOIN dup d ON a.vec_id = d.did
        |LEFT JOIN rem r ON a.vec_id = r.rid
        |ORDER BY a.vec_id""".stripMargin,

    // Prototypicality-pruning replay: the x65 corpus/centroid/assign
    // CTEs, then rank/size windows and the floor-cut keep rule
    "x158_prototype_prune" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    list_transform(range(0, len(v)), i -> v[i + 1] * (1.0 + 0.05 * ((i % 3) - 1)))
        |  FROM base WHERE vec_id < 25),
        |cent AS (
        |  SELECT vec_id AS cid, v AS cv FROM base
        |  WHERE vec_id IN (0, 1, 3, 7, 11, 19, 23, 29)),
        |sims AS (
        |  SELECT c.vec_id, c.v, ct.cid,
        |    ROUND(list_cosine_similarity(c.v, ct.cv), 6) AS csim
        |  FROM corpus c CROSS JOIN cent ct),
        |assign AS (
        |  SELECT vec_id, cid AS cluster_id, csim AS centroid_sim
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
        |        FROM sims)
        |  WHERE rn = 1),
        |ranked AS (
        |  SELECT vec_id, cluster_id, centroid_sim,
        |    row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY centroid_sim DESC, vec_id) AS proto_rank,
        |    count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |  FROM assign)
        |SELECT vec_id, cluster_id, centroid_sim, proto_rank, cluster_size,
        |  proto_rank > FLOOR(0.3 * cluster_size) AS kept
        |FROM ranked
        |ORDER BY vec_id""".stripMargin,

    // Streamed-SemDeDup replay: identical to x157 — the store contract
    // is decomposition-invariant, so the stream's two micro-batches
    // must land on the same batch-union answer
"x160_stream_semdedup" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    list_transform(range(0, len(v)), i -> v[i + 1] * (1.0 + 0.05 * ((i % 3) - 1)))
        |  FROM base WHERE vec_id < 25),
        |cent AS (
        |  SELECT vec_id AS cid, v AS cv FROM base
        |  WHERE vec_id IN (0, 1, 3, 7, 11, 19, 23, 29)),
        |sims AS (
        |  SELECT c.vec_id, c.v, ct.cid,
        |    ROUND(list_cosine_similarity(c.v, ct.cv), 6) AS csim
        |  FROM corpus c CROSS JOIN cent ct),
        |assign AS (
        |  SELECT vec_id, v, cid AS cluster_id, csim AS centroid_sim
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
        |        FROM sims)
        |  WHERE rn = 1),
        |pairs AS (
        |  SELECT * FROM (
        |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |      a.centroid_sim AS ca, b.centroid_sim AS cb,
        |      ROUND(list_cosine_similarity(a.v, b.v), 6) AS ps
        |    FROM assign a JOIN assign b
        |      ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
        |  WHERE ps >= 0.9),
        |dup AS (SELECT DISTINCT unnest([id_a, id_b]) AS did FROM pairs),
        |rem AS (
        |  SELECT DISTINCT CASE WHEN ca > cb THEN id_a
        |    WHEN cb > ca THEN id_b
        |    ELSE greatest(id_a, id_b) END AS rid
        |  FROM pairs)
        |SELECT a.vec_id AS id, a.cluster_id, a.centroid_sim,
        |  (d.did IS NOT NULL) AS is_dup, (r.rid IS NULL) AS kept
        |FROM assign a
        |LEFT JOIN dup d ON a.vec_id = d.did
        |LEFT JOIN rem r ON a.vec_id = r.rid
        |ORDER BY a.vec_id""".stripMargin,

    // Winnowing replay: identical md5-h60 gram hashes, the SAME
    // rightmost-min selection via list_min over a HUGEINT encoding
    // h*2^20 + (2^20-1-pos) (minimizing the encoding = h ascending,
    // then pos DESCENDING — the operator's min(struct(h, 1048575-pos))
    // total order, engine-native spelling), then the df-capped
    // fingerprint self-join and containment-style overlap
    "x161_winnow_overlap" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000,
        |    'zq' || CAST(doc_id AS VARCHAR) || 'qz ' || substring(text, 30, 160)
        |  FROM documents WHERE doc_id < 40),
        |g AS (
        |  SELECT doc_id, greatest(len(text) - 15, 1) AS m,
        |    list_transform(range(0, greatest(len(text) - 15, 1)),
        |      i -> CAST(CAST('0x' || substring(md5(substring(text, CAST(i + 1 AS INT), 16)), 1, 15) AS BIGINT) AS HUGEINT) * 1048576
        |        + (1048575 - i)) AS encs
        |  FROM corpus),
        |sel AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(0, greatest(m - 4, 0) + 1),
        |      s -> list_min(list_slice(encs, CAST(s + 1 AS INT), CAST(s + 4 AS INT))))) AS sels
        |  FROM g),
        |fp AS (
        |  SELECT DISTINCT doc_id AS id, CAST(e // 1048576 AS BIGINT) AS fp
        |  FROM sel, UNNEST(sels) AS t(e)),
        |rare AS (
        |  SELECT id, fp FROM fp
        |  WHERE fp IN (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 64)),
        |perdoc AS (SELECT id, count(*) AS n FROM fp GROUP BY id),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
        |  FROM rare a JOIN rare b ON a.fp = b.fp AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, p.shared,
        |  ROUND(CAST(p.shared AS DOUBLE) / least(na.n, nb.n), 6) AS overlap
        |FROM pairs p
        |JOIN perdoc na ON na.id = p.id_a
        |JOIN perdoc nb ON nb.id = p.id_b
        |WHERE p.shared >= 3
        |  AND ROUND(CAST(p.shared AS DOUBLE) / least(na.n, nb.n), 6) >= 0.5
        |ORDER BY p.id_a, p.id_b""".stripMargin,

    // dHash replay: the same 8x8 luma grid (byte i -> cell i mod 64;
    // ASCII fixture, so ord(char) == payload byte), the same 56
    // gradient bits (HUGEINT term sums — a double list_sum would lose
    // bits above 2^53), then the NAIVE all-pairs hamming scan as the
    // value oracle for the banded join
    "x162_dhash_near_dup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text || '!' FROM documents WHERE doc_id < 40),
        |lum AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 64), c ->
        |      CAST(coalesce(list_sum(list_transform(range(CAST(c AS INT), len(text), 64),
        |        i -> ord(substring(text, CAST(i + 1 AS INT), 1)))), 0) AS BIGINT)) AS lum
        |  FROM corpus),
        |h AS (
        |  SELECT doc_id,
        |    CAST(coalesce(list_sum(list_transform(range(0, 56), b ->
        |      CASE WHEN lum[CAST((b // 7) * 8 + (b % 7) + 2 AS INT)]
        |             > lum[CAST((b // 7) * 8 + (b % 7) + 1 AS INT)]
        |        THEN CAST(CAST(1 AS BIGINT) << CAST(b AS INT) AS HUGEINT)
        |        ELSE CAST(0 AS HUGEINT) END)), 0) AS BIGINT) AS dh
        |  FROM lum)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.dh, b.dh)) AS INT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dh, b.dh)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // Vocab-growth replay: per-(shard, 4-gram-type) counts, first-shard
    // new-type attribution, window cumsums on the 5-row rollup, and the
    // x156 micro-grid OLS on the ln-ln points
    "x170_vocab_growth" ->
      """WITH td AS (
        |  SELECT doc_id % 5 AS s,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> len(x) > 0) AS toks
        |  FROM documents WHERE doc_id < 1000),
        |tok AS (
        |  SELECT s, unnest(CASE WHEN len(toks) <= 4 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(0, len(toks) - 3),
        |      i -> array_to_string(list_slice(toks, i + 1, i + 4), ' ')) END) AS w
        |  FROM td),
        |pst AS (SELECT s, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |occ AS (SELECT s, CAST(sum(c) AS BIGINT) AS occ FROM pst GROUP BY 1),
        |fs AS (SELECT w, min(s) AS fs FROM pst GROUP BY 1),
        |nw AS (SELECT fs AS s, CAST(count(*) AS BIGINT) AS newt FROM fs GROUP BY 1),
        |g AS (
        |  SELECT o.s, o.occ, coalesce(nw.newt, 0) AS newt,
        |    CAST(sum(o.occ) OVER (ORDER BY o.s) AS BIGINT) AS cum_tokens,
        |    CAST(sum(coalesce(nw.newt, 0)) OVER (ORDER BY o.s) AS BIGINT) AS cum_vocab
        |  FROM occ o LEFT JOIN nw ON nw.s = o.s),
        |pts AS (SELECT ln(CAST(cum_tokens AS DOUBLE)) AS x,
        |          ln(CAST(cum_vocab AS DOUBLE)) AS y FROM g),
        |a AS (
        |  SELECT count(*) AS n,
        |    CAST(SUM(CAST(ROUND(x * 1000000) AS HUGEINT)) AS DOUBLE) / 1000000.0 AS sx,
        |    CAST(SUM(CAST(ROUND(y * 1000000) AS HUGEINT)) AS DOUBLE) / 1000000.0 AS sy,
        |    CAST(SUM(CAST(ROUND(x * y * 1000000) AS HUGEINT)) AS DOUBLE) / 1000000.0 AS sxy,
        |    CAST(SUM(CAST(ROUND(x * x * 1000000) AS HUGEINT)) AS DOUBLE) / 1000000.0 AS sxx,
        |    CAST(SUM(CAST(ROUND(y * y * 1000000) AS HUGEINT)) AS DOUBLE) / 1000000.0 AS syy
        |  FROM pts),
        |f AS (
        |  SELECT CAST(n AS DOUBLE) * sxx - sx * sx AS den,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS num,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS deny
        |  FROM a)
        |SELECT g.s AS shard, g.occ AS shard_tokens, g.newt AS new_types,
        |  g.cum_tokens, g.cum_vocab,
        |  ROUND(CASE WHEN f.den = 0 THEN 0.0 ELSE f.num / f.den END, 6) AS heaps_beta,
        |  ROUND(CASE WHEN f.den = 0 OR f.deny = 0 THEN 0.0
        |    ELSE f.num * f.num / (f.den * f.deny) END, 6) AS heaps_r2
        |FROM g, f ORDER BY shard""".stripMargin,

    // Frequency-spectrum replay: count-of-counts, the n_{r+1} lookup as
    // a self-join on r+1 (the op's window-free spelling), Turing r* and
    // the n1/N unseen mass
    "x171_frequency_spectrum" ->
      """WITH td AS (
        |  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM documents WHERE doc_id < 1000),
        |counts AS (
        |  SELECT w, count(*) AS c FROM (
        |    SELECT unnest(CASE WHEN len(toks) <= 4 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 3),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 4), ' ')) END) AS w
        |    FROM td) GROUP BY 1),
        |spectrum AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r FROM counts GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1 FROM counts)
        |SELECT s.r, s.n_r,
        |  ROUND(CASE WHEN nx.n_r IS NULL THEN 0.0
        |    ELSE (s.r + 1) * CAST(nx.n_r AS DOUBLE) / s.n_r END, 6) AS r_star,
        |  ROUND(CAST(t.n1 AS DOUBLE) / t.n, 6) AS p_unseen
        |FROM spectrum s LEFT JOIN spectrum nx ON nx.r = s.r + 1, tot t
        |WHERE s.r <= 20 ORDER BY s.r""".stripMargin,

    // Cross-modal alignment replay: the same swapped pairing, 6dp
    // cosine, threshold boolean
    "x172_alignment_gate" ->
      """WITH emb AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (SELECT b.vec_id AS pair_id, b.v AS tv, m.v AS mv
        |  FROM emb b JOIN emb m
        |    ON m.vec_id = CASE WHEN b.vec_id % 10 = 7
        |                       THEN b.vec_id + 1 ELSE b.vec_id END),
        |sc AS (SELECT pair_id,
        |    ROUND(list_cosine_similarity(tv, mv), 6) AS align_score
        |  FROM p)
        |SELECT pair_id, align_score, align_score >= 0.99 AS aligned
        |FROM sc ORDER BY pair_id""".stripMargin,

    // UniMax replay: integer micro-unit capacities, exact HUGEINT
    // prefix sums and boundary comparisons (cappedness is downward-
    // closed in ascending (capacity, source) order, so per-row
    // conditions equal the engine's scan), ONE double division for the
    // uniform level
    "x174_unimax_mixture" ->
      """WITH d AS (
        |  SELECT CASE WHEN doc_id % 16 < 8 THEN 'a'
        |              WHEN doc_id % 16 < 12 THEN 'b'
        |              WHEN doc_id % 16 < 14 THEN 'c'
        |              WHEN doc_id % 16 = 14 THEN 'd' ELSE 'e' END AS source,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0)) AS tl
        |  FROM documents),
        |c AS (SELECT source, CAST(sum(tl) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY 1),
        |o AS (SELECT source, n_tokens,
        |    CAST(round(CAST(n_tokens AS DOUBLE) * 2.0 * 1000000) AS BIGINT)
        |      AS capm
        |  FROM c),
        |r AS (SELECT *, row_number() OVER (ORDER BY capm, source) AS rn,
        |    COALESCE(sum(capm) OVER (ORDER BY capm, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p,
        |    (SELECT count(*) FROM o) AS m
        |  FROM o),
        |f AS (SELECT *,
        |    CAST(capm AS HUGEINT) * (m - rn + 1)
        |      <= CAST(40000 AS HUGEINT) * 1000000 - p AS capped
        |  FROM r),
        |k AS (SELECT CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) AS BIGINT)
        |      AS kstar,
        |    CAST(sum(CASE WHEN capped THEN capm ELSE 0 END) AS HUGEINT) AS pk,
        |    max(m) AS mm FROM f),
        |u AS (SELECT CASE WHEN kstar >= mm THEN 0.0
        |    ELSE CAST(CAST(40000 AS HUGEINT) * 1000000 - pk AS DOUBLE)
        |      / (mm - kstar) END AS ufinal FROM k)
        |SELECT f.source, f.n_tokens,
        |  CAST(round((CASE WHEN f.capped THEN CAST(f.capm AS DOUBLE)
        |    ELSE u.ufinal END) / 1000000.0) AS BIGINT) AS target_tokens,
        |  ROUND((CASE WHEN f.capped THEN CAST(f.capm AS DOUBLE)
        |    ELSE u.ufinal END) / (f.n_tokens * 1000000.0), 6) AS epochs,
        |  f.capped
        |FROM f, u ORDER BY f.source""".stripMargin,

    // x175: the split lifecycle's invariants are frame-equality and
    // stats-conservation booleans computed engine-side (kmeans + the
    // index layout have no SQL replay); the oracle pins the fixture
    // count, the deterministic list arithmetic (8 lists + 4 sub-lists),
    // and every boolean at TRUE — the x50/x69 convention.
    "x175_ivf_split" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(8 AS INTEGER) AS n_lists_before,
        |  CAST(12 AS INTEGER) AS n_lists_after,
        |  TRUE AS split_matches_ref,
        |  TRUE AS old_list_retired,
        |  TRUE AS sub_lists_hold_live,
        |  TRUE AS replay_noop,
        |  TRUE AS compact_preserves_answers,
        |  TRUE AS old_list_removed,
        |  TRUE AS partition_pruned
        |FROM embeddings""".stripMargin,

    // x176: x141's KN replay at PARAGRAPH grain — same model CTEs, the
    // doc side splits on the separator first, paragraph NLLs round to
    // 6dp before the threshold (the engine's pinned decision surface),
    // short paragraphs coalesce to 0 (always kept), survivors
    // reassemble in position order, all-dropped docs vanish
    "x176_paragraph_ppl_filter" ->
      """WITH mtok AS (
        |  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS ts
        |  FROM documents),
        |bi AS (SELECT a, b, count(*) AS c
        |  FROM (SELECT ts[i] AS a, ts[i + 1] AS b
        |        FROM mtok, UNNEST(range(1, len(ts))) AS u(i)) GROUP BY a, b),
        |ctx AS (SELECT a, CAST(sum(c) AS DOUBLE) AS c1,
        |    CAST(count(*) AS DOUBLE) AS n1f
        |  FROM bi GROUP BY a),
        |pred AS (SELECT b, CAST(count(*) AS DOUBLE) AS n1p FROM bi GROUP BY b),
        |tot AS (SELECT
        |    (SELECT CAST(count(*) AS DOUBLE) FROM bi) AS t,
        |    (SELECT CAST(count(*) AS DOUBLE) FROM
        |      (SELECT a AS w FROM bi UNION SELECT b AS w FROM bi)) AS v),
        |mut AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || e'\n\n' || 'zzqa zzqb zzqc zzqd zzqe'
        |      ELSE text END AS text
        |  FROM documents),
        |spl AS (SELECT doc_id, string_split(text, e'\n\n') AS ls FROM mut),
        |par AS (
        |  SELECT doc_id, i AS pos, ls[i] AS para
        |  FROM spl, UNNEST(range(1, len(ls) + 1)) AS u(i)),
        |pts AS (
        |  SELECT doc_id, pos,
        |    list_filter(string_split_regex(trim(lower(para)), '\s+'),
        |      x -> len(x) > 0) AS ts
        |  FROM par),
        |dbg AS (
        |  SELECT doc_id, pos, ts[i] AS w1, ts[i + 1] AS w2
        |  FROM pts, UNNEST(range(1, len(ts))) AS u(i)),
        |sc AS (
        |  SELECT d.doc_id, d.pos,
        |    CASE WHEN ctx.c1 IS NOT NULL THEN
        |      GREATEST(CAST(coalesce(b.c, 0) AS DOUBLE) - 0.75, 0.0) / ctx.c1
        |        + (0.75 * ctx.n1f / ctx.c1) *
        |          ((coalesce(pred.n1p, 0) + 0.5) / (tot.t + 0.5 * tot.v))
        |    ELSE (coalesce(pred.n1p, 0) + 0.5) / (tot.t + 0.5 * tot.v)
        |    END AS p
        |  FROM dbg d
        |  LEFT JOIN bi b ON b.a = d.w1 AND b.b = d.w2
        |  LEFT JOIN ctx ON ctx.a = d.w1
        |  LEFT JOIN pred ON pred.b = d.w2, tot),
        |pagg AS (
        |  SELECT doc_id, pos, ROUND(avg(-ln(p)), 6) AS kn_nll
        |  FROM sc GROUP BY doc_id, pos),
        |kept AS (
        |  SELECT p.doc_id, p.pos, p.para
        |  FROM par p LEFT JOIN pagg a
        |    ON p.doc_id = a.doc_id AND p.pos = a.pos
        |  WHERE coalesce(a.kn_nll, 0.0) <= 5.0),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras
        |  FROM par GROUP BY doc_id)
        |SELECT k.doc_id,
        |  string_agg(k.para, e'\n\n' ORDER BY k.pos) AS text,
        |  max(c.n_paras) AS n_paras,
        |  CAST(count(*) AS BIGINT) AS n_kept
        |FROM kept k JOIN cnt c ON k.doc_id = c.doc_id
        |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin,

    // x178: the x141 KN replay over the mutated feed + the threshold —
    // the streamed flagged side must hash-match this batch answer
    // because screening is per-doc stateless
    "x178_stream_perplexity_screen" ->
      """WITH mtok AS (
        |  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS ts
        |  FROM documents),
        |bi AS (SELECT a, b, count(*) AS c
        |  FROM (SELECT ts[i] AS a, ts[i + 1] AS b
        |        FROM mtok, UNNEST(range(1, len(ts))) AS u(i)) GROUP BY a, b),
        |ctx AS (SELECT a, CAST(sum(c) AS DOUBLE) AS c1,
        |    CAST(count(*) AS DOUBLE) AS n1f
        |  FROM bi GROUP BY a),
        |pred AS (SELECT b, CAST(count(*) AS DOUBLE) AS n1p FROM bi GROUP BY b),
        |tot AS (SELECT
        |    (SELECT CAST(count(*) AS DOUBLE) FROM bi) AS t,
        |    (SELECT CAST(count(*) AS DOUBLE) FROM
        |      (SELECT a AS w FROM bi UNION SELECT b AS w FROM bi)) AS v),
        |mut AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'zzqa zzqb zzqc zzqd zzqe zzqf'
        |         ELSE text END AS text
        |  FROM documents),
        |dts AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)),
        |    '\s+'), x -> len(x) > 0) AS ts
        |  FROM mut),
        |dbg AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        |  FROM dts, UNNEST(range(1, len(ts))) AS u(i)),
        |sc AS (
        |  SELECT g.doc_id,
        |    CASE WHEN ctx.c1 IS NOT NULL THEN
        |      GREATEST(CAST(coalesce(b.c, 0) AS DOUBLE) - 0.75, 0.0) / ctx.c1
        |        + (0.75 * ctx.n1f / ctx.c1) *
        |          ((coalesce(pred.n1p, 0) + 0.5) / (tot.t + 0.5 * tot.v))
        |    ELSE (coalesce(pred.n1p, 0) + 0.5) / (tot.t + 0.5 * tot.v)
        |    END AS p
        |  FROM dbg g
        |  LEFT JOIN bi b ON b.a = g.w1 AND b.b = g.w2
        |  LEFT JOIN ctx ON ctx.a = g.w1
        |  LEFT JOIN pred ON pred.b = g.w2, tot),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    ROUND(avg(-ln(p)), 6) AS kn_nll
        |  FROM sc GROUP BY doc_id),
        |f AS (
        |  SELECT m.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
        |    coalesce(a.kn_nll, 0.0) AS kn_nll
        |  FROM mut m LEFT JOIN agg a ON m.doc_id = a.doc_id)
        |SELECT doc_id, n_bigrams, kn_nll FROM f
        |WHERE kn_nll > 5.0 ORDER BY doc_id""".stripMargin,

    // x179: the three legs replayed — case-sensitive unit counts on
    // raw text, lowercased tagged grams for n = 2..10 with the
    // (count, gram)-descending top pick, the 1.0 caps, and every
    // fraction rounded 6dp BEFORE the threshold compares
    "x179_gopher_repetition" ->
      """WITH d AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 11 = 0 THEN repeat(' badger', 40)
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN
        |      ' s0 s1 s2 s3 s4 s5 s6 s7 s8 s9 s0 s1 s2 s3 s4 s5 s6 s7 s8 s9 s0 s1 s2 s3 s4 s5 s6 s7 s8 s9 s0 s1 s2 s3 s4 s5 s6 s7 s8 s9'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN repeat(chr(10) || 'repeat line', 8)
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || chr(10) ||
        |      'same para' || chr(10) || chr(10) || 'same para'
        |      ELSE '' END AS text
        |  FROM documents),
        |ln AS (
        |  SELECT doc_id, u FROM (
        |    SELECT doc_id, UNNEST(string_split(text, chr(10))) AS u FROM d)
        |  WHERE len(trim(u)) > 0),
        |lnc AS (SELECT doc_id, u, count(*) AS c FROM ln GROUP BY 1, 2),
        |lns AS (SELECT doc_id, sum(c) AS total, sum(c - 1) AS dup,
        |    sum((c - 1) * len(u)) AS dupch
        |  FROM lnc GROUP BY 1),
        |pr AS (
        |  SELECT doc_id, u FROM (
        |    SELECT doc_id,
        |      UNNEST(string_split(text, chr(10) || chr(10))) AS u FROM d)
        |  WHERE len(trim(u)) > 0),
        |prc AS (SELECT doc_id, u, count(*) AS c FROM pr GROUP BY 1, 2),
        |prs AS (SELECT doc_id, sum(c) AS total, sum(c - 1) AS dup,
        |    sum((c - 1) * len(u)) AS dupch
        |  FROM prc GROUP BY 1),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> len(x) > 0) AS ts
        |  FROM d),
        |tc AS (SELECT doc_id, len(array_to_string(ts, ' ')) AS tchars, ts
        |  FROM tk),
        |g AS (
        |  SELECT doc_id, tchars, n,
        |    array_to_string(list_slice(ts, i, i + n - 1), ' ') AS gm
        |  FROM tc, UNNEST(range(2, 11)) AS nn(n),
        |    UNNEST(range(1, len(ts) - n + 2)) AS ii(i)
        |  WHERE len(ts) >= n),
        |gc AS (SELECT doc_id, tchars, n, gm, count(*) AS c
        |  FROM g GROUP BY 1, 2, 3, 4),
        |topg AS (
        |  SELECT doc_id, n, c AS topc, c * len(gm) AS topch FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id, n
        |      ORDER BY c DESC, gm DESC) AS rn FROM gc) WHERE rn = 1),
        |gs AS (
        |  SELECT gc.doc_id, gc.n,
        |    CASE WHEN max(t.topc) > 1 THEN
        |      ROUND(LEAST(1.0, CAST(max(t.topch) AS DOUBLE) /
        |        GREATEST(max(gc.tchars), 1)), 6) ELSE 0.0 END AS topfrac,
        |    ROUND(LEAST(1.0, CAST(coalesce(sum(CASE WHEN gc.c > 1
        |        THEN gc.c * len(gc.gm) END), 0) AS DOUBLE) /
        |      GREATEST(max(gc.tchars), 1)), 6) AS dupfrac
        |  FROM gc JOIN topg t ON gc.doc_id = t.doc_id AND gc.n = t.n
        |  GROUP BY 1, 2),
        |piv AS (
        |  SELECT doc_id,
        |    coalesce(max(CASE WHEN n = 2 THEN topfrac END), 0.0) AS t2,
        |    coalesce(max(CASE WHEN n = 3 THEN topfrac END), 0.0) AS t3,
        |    coalesce(max(CASE WHEN n = 4 THEN topfrac END), 0.0) AS t4,
        |    coalesce(max(CASE WHEN n = 5 THEN dupfrac END), 0.0) AS d5,
        |    coalesce(max(CASE WHEN n = 6 THEN dupfrac END), 0.0) AS d6,
        |    coalesce(max(CASE WHEN n = 7 THEN dupfrac END), 0.0) AS d7,
        |    coalesce(max(CASE WHEN n = 8 THEN dupfrac END), 0.0) AS d8,
        |    coalesce(max(CASE WHEN n = 9 THEN dupfrac END), 0.0) AS d9,
        |    coalesce(max(CASE WHEN n = 10 THEN dupfrac END), 0.0) AS d10
        |  FROM gs GROUP BY 1),
        |f AS (
        |  SELECT d.doc_id,
        |    ROUND(coalesce(CAST(l.dup AS DOUBLE) /
        |      nullif(l.total, 0), 0.0), 6) AS dup_line_frac,
        |    ROUND(coalesce(CAST(p.dup AS DOUBLE) /
        |      nullif(p.total, 0), 0.0), 6) AS dup_para_frac,
        |    ROUND(coalesce(CAST(l.dupch AS DOUBLE) /
        |      nullif(len(d.text), 0), 0.0), 6) AS dup_line_char_frac,
        |    ROUND(coalesce(CAST(p.dupch AS DOUBLE) /
        |      nullif(len(d.text), 0), 0.0), 6) AS dup_para_char_frac,
        |    coalesce(v.t2, 0.0) AS top_2gram_char_frac,
        |    coalesce(v.t3, 0.0) AS top_3gram_char_frac,
        |    coalesce(v.t4, 0.0) AS top_4gram_char_frac,
        |    coalesce(v.d5, 0.0) AS dup_5gram_char_frac,
        |    coalesce(v.d6, 0.0) AS dup_6gram_char_frac,
        |    coalesce(v.d7, 0.0) AS dup_7gram_char_frac,
        |    coalesce(v.d8, 0.0) AS dup_8gram_char_frac,
        |    coalesce(v.d9, 0.0) AS dup_9gram_char_frac,
        |    coalesce(v.d10, 0.0) AS dup_10gram_char_frac
        |  FROM d LEFT JOIN lns l ON d.doc_id = l.doc_id
        |  LEFT JOIN prs p ON d.doc_id = p.doc_id
        |  LEFT JOIN piv v ON d.doc_id = v.doc_id)
        |SELECT *,
        |  dup_line_frac <= 0.30 AND dup_para_frac <= 0.30 AND
        |  dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20 AND
        |  top_2gram_char_frac <= 0.20 AND top_3gram_char_frac <= 0.18 AND
        |  top_4gram_char_frac <= 0.16 AND dup_5gram_char_frac <= 0.15 AND
        |  dup_6gram_char_frac <= 0.14 AND dup_7gram_char_frac <= 0.13 AND
        |  dup_8gram_char_frac <= 0.12 AND dup_9gram_char_frac <= 0.11 AND
        |  dup_10gram_char_frac <= 0.10 AS repetition_pass
        |FROM f ORDER BY doc_id""".stripMargin,

    // x180: the full ExactSubstr replay — clone fixture, length-20
    // anchor windows, duplicated-window set, canonical min (id, pos)
    // per window, coverage union, canonical protection, splice
    "x180_exact_substr" ->
      """WITH tokb AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, toks FROM tokb
        |  UNION ALL
        |  SELECT doc_id + 40000 AS doc_id,
        |    list_slice(toks, 1, CAST(20 + doc_id % 35 AS INT)) AS toks
        |  FROM tokb WHERE doc_id < 40),
        |spans AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(list_slice(toks, i + 1, i + 20), ' ') AS gram
        |  FROM corpus, UNNEST(CASE WHEN len(toks) >= 20
        |    THEN range(0, len(toks) - 19) ELSE [] END) AS u(i)),
        |dupg AS (SELECT gram FROM spans GROUP BY gram HAVING count(*) >= 2),
        |dspans AS (SELECT s.doc_id, s.pos, s.gram
        |  FROM spans s JOIN dupg USING (gram)),
        |canon AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, row_number() OVER (PARTITION BY gram
        |      ORDER BY doc_id, pos) AS rn
        |    FROM dspans) WHERE rn = 1),
        |covdup AS (
        |  SELECT DISTINCT doc_id, pos + d AS p
        |  FROM dspans, UNNEST(range(0, 20)) AS u(d)),
        |covcanon AS (
        |  SELECT DISTINCT doc_id, pos + d AS p
        |  FROM canon, UNNEST(range(0, 20)) AS u(d)),
        |removed AS (
        |  SELECT cd.doc_id, cd.p
        |  FROM covdup cd LEFT JOIN covcanon cc
        |    ON cd.doc_id = cc.doc_id AND cd.p = cc.p
        |  WHERE cc.p IS NULL),
        |tokpos AS (
        |  SELECT doc_id, i AS pos, toks[CAST(i + 1 AS INT)] AS tok
        |  FROM corpus, UNNEST(CASE WHEN len(toks) > 0
        |    THEN range(0, len(toks)) ELSE [] END) AS u(i)),
        |clean AS (
        |  SELECT tp.doc_id,
        |    sum(CASE WHEN r.p IS NOT NULL THEN 1 ELSE 0 END) AS n_removed,
        |    coalesce(string_agg(CASE WHEN r.p IS NULL THEN tp.tok END,
        |      ' ' ORDER BY tp.pos), '') AS clean_text
        |  FROM tokpos tp
        |  LEFT JOIN removed r ON tp.doc_id = r.doc_id AND tp.pos = r.p
        |  GROUP BY tp.doc_id)
        |SELECT c.doc_id, CAST(len(c.toks) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(cl.n_removed, 0) AS BIGINT) AS n_removed,
        |  coalesce(cl.clean_text, '') AS clean_text
        |FROM corpus c LEFT JOIN clean cl USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin,

    // x182: the store path is pinned to the SAME batch replay as x180 —
    // the whole point of the equivalence contract (ingest ≡ batch over
    // the union) is that DuckDB cannot tell which engine path produced
    // the frame
    "x182_exact_substr_store" ->
      """WITH tokb AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM documents WHERE doc_id < 500),
        |corpus AS (
        |  SELECT doc_id, toks FROM tokb
        |  UNION ALL
        |  SELECT doc_id + 40000 AS doc_id,
        |    list_slice(toks, 1, CAST(20 + doc_id % 35 AS INT)) AS toks
        |  FROM tokb WHERE doc_id < 40),
        |spans AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(list_slice(toks, i + 1, i + 20), ' ') AS gram
        |  FROM corpus, UNNEST(CASE WHEN len(toks) >= 20
        |    THEN range(0, len(toks) - 19) ELSE [] END) AS u(i)),
        |dupg AS (SELECT gram FROM spans GROUP BY gram HAVING count(*) >= 2),
        |dspans AS (SELECT s.doc_id, s.pos, s.gram
        |  FROM spans s JOIN dupg USING (gram)),
        |canon AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, row_number() OVER (PARTITION BY gram
        |      ORDER BY doc_id, pos) AS rn
        |    FROM dspans) WHERE rn = 1),
        |covdup AS (
        |  SELECT DISTINCT doc_id, pos + d AS p
        |  FROM dspans, UNNEST(range(0, 20)) AS u(d)),
        |covcanon AS (
        |  SELECT DISTINCT doc_id, pos + d AS p
        |  FROM canon, UNNEST(range(0, 20)) AS u(d)),
        |removed AS (
        |  SELECT cd.doc_id, cd.p
        |  FROM covdup cd LEFT JOIN covcanon cc
        |    ON cd.doc_id = cc.doc_id AND cd.p = cc.p
        |  WHERE cc.p IS NULL),
        |tokpos AS (
        |  SELECT doc_id, i AS pos, toks[CAST(i + 1 AS INT)] AS tok
        |  FROM corpus, UNNEST(CASE WHEN len(toks) > 0
        |    THEN range(0, len(toks)) ELSE [] END) AS u(i)),
        |clean AS (
        |  SELECT tp.doc_id,
        |    sum(CASE WHEN r.p IS NOT NULL THEN 1 ELSE 0 END) AS n_removed,
        |    coalesce(string_agg(CASE WHEN r.p IS NULL THEN tp.tok END,
        |      ' ' ORDER BY tp.pos), '') AS clean_text
        |  FROM tokpos tp
        |  LEFT JOIN removed r ON tp.doc_id = r.doc_id AND tp.pos = r.p
        |  GROUP BY tp.doc_id)
        |SELECT c.doc_id, CAST(len(c.toks) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(cl.n_removed, 0) AS BIGINT) AS n_removed,
        |  coalesce(cl.clean_text, '') AS clean_text
        |FROM corpus c LEFT JOIN clean cl USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin,

    // x185: the CDC boundary walk replayed — candidate cuts where the
    // trailing md5-h60 16-gram ≡ 0 (mod 16), then the sequential
    // min/max acceptance as a recursive CTE: next boundary =
    // coalesce(min(candidate in (prev+24 .. prev+96]),
    // least(prev+96, len)). Chunk digests are md5 of the chunk text —
    // the one hash both engines spell identically
    "x185_cdc_chunks" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 20000, 'zq-inserted ' || text
        |  FROM documents WHERE doc_id < 40),
        |lens AS (SELECT doc_id, len(text) AS len FROM corpus),
        |cand AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS p FROM (
        |    SELECT doc_id, unnest(list_filter(range(16, len(text) + 1),
        |      p -> CAST('0x' || substring(md5(substring(text, CAST(p - 15 AS INT), 16)), 1, 15) AS BIGINT) % 16 = 0)) AS p
        |    FROM corpus)),
        |walk(doc_id, pos) AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) FROM lens WHERE len > 0
        |  UNION ALL
        |  SELECT w.doc_id,
        |    coalesce((SELECT min(c.p) FROM cand c WHERE c.doc_id = w.doc_id
        |              AND c.p >= w.pos + 24 AND c.p <= w.pos + 96),
        |             least(w.pos + 96, l.len))
        |  FROM walk w JOIN lens l USING (doc_id)
        |  WHERE w.pos < l.len),
        |ch AS (
        |  SELECT doc_id, pos,
        |    lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos AS clen
        |  FROM walk QUALIFY clen IS NOT NULL)
        |SELECT c.doc_id,
        |  CAST(row_number() OVER (PARTITION BY c.doc_id ORDER BY c.pos) - 1
        |    AS BIGINT) AS idx,
        |  c.pos AS "start", c.clen AS "len",
        |  md5(substring(co.text, CAST(c.pos + 1 AS INT), CAST(c.clen AS INT))) AS digest
        |FROM ch c JOIN corpus co USING (doc_id)
        |ORDER BY c.doc_id, c.pos""".stripMargin,

    // x186: both corpus versions through the same recursive-CTE walk
    // (keyed by uid = ver·1000000 + doc_id), then the per-new-doc reuse
    // readout as a left join against the DISTINCT old digest set
    "x186_cdc_delta" ->
      """WITH RECURSIVE v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'rev2 edit: ' || text
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 20000, text
        |  FROM documents WHERE doc_id >= 300 AND doc_id < 340),
        |corpus AS (
        |  SELECT doc_id AS uid, doc_id, text, 1 AS ver
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, text, 2 FROM v2),
        |lens AS (SELECT uid, len(text) AS len FROM corpus),
        |cand AS (
        |  SELECT uid, CAST(p AS BIGINT) AS p FROM (
        |    SELECT uid, unnest(list_filter(range(16, len(text) + 1),
        |      p -> CAST('0x' || substring(md5(substring(text, CAST(p - 15 AS INT), 16)), 1, 15) AS BIGINT) % 16 = 0)) AS p
        |    FROM corpus)),
        |walk(uid, pos) AS (
        |  SELECT uid, CAST(0 AS BIGINT) FROM lens WHERE len > 0
        |  UNION ALL
        |  SELECT w.uid,
        |    coalesce((SELECT min(c.p) FROM cand c WHERE c.uid = w.uid
        |              AND c.p >= w.pos + 24 AND c.p <= w.pos + 96),
        |             least(w.pos + 96, l.len))
        |  FROM walk w JOIN lens l USING (uid)
        |  WHERE w.pos < l.len),
        |ch AS (
        |  SELECT uid, pos,
        |    lead(pos) OVER (PARTITION BY uid ORDER BY pos) - pos AS clen
        |  FROM walk QUALIFY clen IS NOT NULL),
        |dig AS (
        |  SELECT c.uid, co.doc_id, co.ver, c.clen,
        |    md5(substring(co.text, CAST(c.pos + 1 AS INT), CAST(c.clen AS INT))) AS digest
        |  FROM ch c JOIN corpus co USING (uid)),
        |oldd AS (SELECT DISTINCT digest FROM dig WHERE ver = 1 AND clen >= 24),
        |newd AS (SELECT doc_id, digest, clen FROM dig WHERE ver = 2)
        |SELECT n.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN o.digest IS NOT NULL AND n.clen >= 24 THEN 1 ELSE 0 END) AS BIGINT) AS n_reused,
        |  CAST(sum(n.clen) AS BIGINT) AS total_len,
        |  CAST(sum(CASE WHEN o.digest IS NOT NULL AND n.clen >= 24 THEN n.clen ELSE 0 END) AS BIGINT) AS reused_len,
        |  CASE WHEN sum(CASE WHEN n.clen >= 24 THEN 1 ELSE 0 END) = 0 THEN NULL
        |    ELSE ROUND(CAST(sum(CASE WHEN o.digest IS NOT NULL AND n.clen >= 24 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / sum(CASE WHEN n.clen >= 24 THEN 1 ELSE 0 END), 6) END AS reused_frac
        |FROM newd n LEFT JOIN oldd o USING (digest)
        |GROUP BY n.doc_id
        |ORDER BY n.doc_id""".stripMargin,

    // x187: the chunk-digest store replayed — three corpus versions
    // through the same walk CTE; shard A's reuse joins v1's digest
    // set, shard B's joins v1 ∪ A (the store's cross-shard
    // accumulation, replayed as growing DISTINCT sets)
    "x187_cdc_store" ->
      """WITH RECURSIVE sa AS (
        |  SELECT doc_id + 20000 AS doc_id, text FROM documents
        |  WHERE doc_id >= 300 AND doc_id < 340),
        |sb AS (
        |  SELECT doc_id + 40000 AS doc_id, 'rev2 edit: ' || text AS text
        |  FROM documents WHERE doc_id < 300 AND doc_id % 3 = 0),
        |corpus AS (
        |  SELECT doc_id AS uid, doc_id, text, 1 AS ver
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL SELECT doc_id + 1000000, doc_id, text, 2 FROM sa
        |  UNION ALL SELECT doc_id + 2000000, doc_id, text, 3 FROM sb),
        |lens AS (SELECT uid, len(text) AS len FROM corpus),
        |cand AS (
        |  SELECT uid, CAST(p AS BIGINT) AS p FROM (
        |    SELECT uid, unnest(list_filter(range(16, len(text) + 1),
        |      p -> CAST('0x' || substring(md5(substring(text, CAST(p - 15 AS INT), 16)), 1, 15) AS BIGINT) % 16 = 0)) AS p
        |    FROM corpus)),
        |walk(uid, pos) AS (
        |  SELECT uid, CAST(0 AS BIGINT) FROM lens WHERE len > 0
        |  UNION ALL
        |  SELECT w.uid,
        |    coalesce((SELECT min(c.p) FROM cand c WHERE c.uid = w.uid
        |              AND c.p >= w.pos + 24 AND c.p <= w.pos + 96),
        |             least(w.pos + 96, l.len))
        |  FROM walk w JOIN lens l USING (uid)
        |  WHERE w.pos < l.len),
        |ch AS (
        |  SELECT uid, pos,
        |    lead(pos) OVER (PARTITION BY uid ORDER BY pos) - pos AS clen
        |  FROM walk QUALIFY clen IS NOT NULL),
        |dig AS (
        |  SELECT c.uid, co.doc_id, co.ver, c.clen,
        |    md5(substring(co.text, CAST(c.pos + 1 AS INT), CAST(c.clen AS INT))) AS digest
        |  FROM ch c JOIN corpus co USING (uid)),
        |d1 AS (SELECT DISTINCT digest FROM dig WHERE ver = 1 AND clen >= 24),
        |d12 AS (SELECT DISTINCT digest FROM dig WHERE ver IN (1, 2) AND clen >= 24),
        |ra AS (
        |  SELECT n.doc_id, count(*) AS n_chunks,
        |    CAST(sum(CASE WHEN o.digest IS NOT NULL AND n.clen >= 24 THEN 1 ELSE 0 END) AS BIGINT) AS n_reused,
        |    CAST(sum(n.clen) AS BIGINT) AS total_len,
        |    CAST(sum(CASE WHEN o.digest IS NOT NULL AND n.clen >= 24 THEN n.clen ELSE 0 END) AS BIGINT) AS reused_len,
        |    CASE WHEN sum(CASE WHEN n.clen >= 24 THEN 1 ELSE 0 END) = 0 THEN NULL
        |      ELSE ROUND(CAST(sum(CASE WHEN o.digest IS NOT NULL AND n.clen >= 24 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / sum(CASE WHEN n.clen >= 24 THEN 1 ELSE 0 END), 6) END AS reused_frac, 'a' AS shard
        |  FROM (SELECT doc_id, digest, clen FROM dig WHERE ver = 2) n
        |  LEFT JOIN d1 o USING (digest) GROUP BY n.doc_id),
        |rb AS (
        |  SELECT n.doc_id, count(*) AS n_chunks,
        |    CAST(sum(CASE WHEN o.digest IS NOT NULL AND n.clen >= 24 THEN 1 ELSE 0 END) AS BIGINT) AS n_reused,
        |    CAST(sum(n.clen) AS BIGINT) AS total_len,
        |    CAST(sum(CASE WHEN o.digest IS NOT NULL AND n.clen >= 24 THEN n.clen ELSE 0 END) AS BIGINT) AS reused_len,
        |    CASE WHEN sum(CASE WHEN n.clen >= 24 THEN 1 ELSE 0 END) = 0 THEN NULL
        |      ELSE ROUND(CAST(sum(CASE WHEN o.digest IS NOT NULL AND n.clen >= 24 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / sum(CASE WHEN n.clen >= 24 THEN 1 ELSE 0 END), 6) END AS reused_frac, 'b' AS shard
        |  FROM (SELECT doc_id, digest, clen FROM dig WHERE ver = 3) n
        |  LEFT JOIN d12 o USING (digest) GROUP BY n.doc_id)
        |SELECT * FROM ra UNION ALL SELECT * FROM rb
        |ORDER BY doc_id""".stripMargin,

    // x188: the streamed store's two batch reports replayed — batch 0
    // joins the base digest set, batch 1 joins base ∪ batch 0 (the
    // deterministic one-file-per-trigger split makes the replay exact)
    "x188_stream_cdc_ingest" ->
      """WITH RECURSIVE b0 AS (
        |  SELECT doc_id + 40000 AS doc_id, 'rev2 edit: ' || text AS text
        |  FROM documents WHERE doc_id < 40),
        |b1 AS (
        |  SELECT doc_id + 80000 AS doc_id, 'rev2 edit: ' || text AS text
        |  FROM documents WHERE doc_id < 40
        |  UNION ALL
        |  SELECT doc_id + 20000, text FROM documents
        |  WHERE doc_id >= 150 AND doc_id < 170),
        |corpus AS (
        |  SELECT doc_id AS uid, doc_id, text, 1 AS ver
        |  FROM documents WHERE doc_id < 150
        |  UNION ALL SELECT doc_id + 1000000, doc_id, text, 2 FROM b0
        |  UNION ALL SELECT doc_id + 2000000, doc_id, text, 3 FROM b1),
        |lens AS (SELECT uid, len(text) AS len FROM corpus),
        |cand AS (
        |  SELECT uid, CAST(p AS BIGINT) AS p FROM (
        |    SELECT uid, unnest(list_filter(range(16, len(text) + 1),
        |      p -> CAST('0x' || substring(md5(substring(text, CAST(p - 15 AS INT), 16)), 1, 15) AS BIGINT) % 16 = 0)) AS p
        |    FROM corpus)),
        |walk(uid, pos) AS (
        |  SELECT uid, CAST(0 AS BIGINT) FROM lens WHERE len > 0
        |  UNION ALL
        |  SELECT w.uid,
        |    coalesce((SELECT min(c.p) FROM cand c WHERE c.uid = w.uid
        |              AND c.p >= w.pos + 24 AND c.p <= w.pos + 96),
        |             least(w.pos + 96, l.len))
        |  FROM walk w JOIN lens l USING (uid)
        |  WHERE w.pos < l.len),
        |ch AS (
        |  SELECT uid, pos,
        |    lead(pos) OVER (PARTITION BY uid ORDER BY pos) - pos AS clen
        |  FROM walk QUALIFY clen IS NOT NULL),
        |dig AS (
        |  SELECT c.uid, co.doc_id, co.ver, c.clen,
        |    md5(substring(co.text, CAST(c.pos + 1 AS INT), CAST(c.clen AS INT))) AS digest
        |  FROM ch c JOIN corpus co USING (uid)),
        |d1 AS (SELECT DISTINCT digest FROM dig WHERE ver = 1 AND clen >= 24),
        |d12 AS (SELECT DISTINCT digest FROM dig WHERE ver IN (1, 2) AND clen >= 24),
        |r0 AS (
        |  SELECT n.doc_id, count(*) AS n_chunks,
        |    CAST(sum(CASE WHEN o.digest IS NOT NULL AND n.clen >= 24 THEN 1 ELSE 0 END) AS BIGINT) AS n_reused,
        |    CAST(sum(n.clen) AS BIGINT) AS total_len,
        |    CAST(sum(CASE WHEN o.digest IS NOT NULL AND n.clen >= 24 THEN n.clen ELSE 0 END) AS BIGINT) AS reused_len,
        |    CASE WHEN sum(CASE WHEN n.clen >= 24 THEN 1 ELSE 0 END) = 0 THEN NULL
        |      ELSE ROUND(CAST(sum(CASE WHEN o.digest IS NOT NULL AND n.clen >= 24 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / sum(CASE WHEN n.clen >= 24 THEN 1 ELSE 0 END), 6) END AS reused_frac, CAST(0 AS BIGINT) AS batch_id
        |  FROM (SELECT doc_id, digest, clen FROM dig WHERE ver = 2) n
        |  LEFT JOIN d1 o USING (digest) GROUP BY n.doc_id),
        |r1 AS (
        |  SELECT n.doc_id, count(*) AS n_chunks,
        |    CAST(sum(CASE WHEN o.digest IS NOT NULL AND n.clen >= 24 THEN 1 ELSE 0 END) AS BIGINT) AS n_reused,
        |    CAST(sum(n.clen) AS BIGINT) AS total_len,
        |    CAST(sum(CASE WHEN o.digest IS NOT NULL AND n.clen >= 24 THEN n.clen ELSE 0 END) AS BIGINT) AS reused_len,
        |    CASE WHEN sum(CASE WHEN n.clen >= 24 THEN 1 ELSE 0 END) = 0 THEN NULL
        |      ELSE ROUND(CAST(sum(CASE WHEN o.digest IS NOT NULL AND n.clen >= 24 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / sum(CASE WHEN n.clen >= 24 THEN 1 ELSE 0 END), 6) END AS reused_frac, CAST(1 AS BIGINT) AS batch_id
        |  FROM (SELECT doc_id, digest, clen FROM dig WHERE ver = 3) n
        |  LEFT JOIN d12 o USING (digest) GROUP BY n.doc_id)
        |SELECT * FROM r0 UNION ALL SELECT * FROM r1
        |ORDER BY batch_id, doc_id""".stripMargin,

    // x189: the store's whole contract at the oracle — batch BM25
    // (the x78 replay) over the union of everything ingested must
    // equal the store's state-backed, bucket-pruned retrieval
    "x189_bm25_store" ->
      """WITH q(query_id, qtext) AS (VALUES
        |  (CAST(1 AS BIGINT), 'spark window agg'),
        |  (CAST(2 AS BIGINT), 'slow query scan'),
        |  (CAST(3 AS BIGINT), 'customer table join fast')),
        |tok AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents WHERE doc_id < 460),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  avg(len(t)) AS avgdl FROM tok),
        |qterm AS (
        |  SELECT query_id, unnest(list_distinct(list_filter(
        |    string_split_regex(trim(lower(qtext)), '\s+'),
        |    x -> len(x) > 0))) AS term
        |  FROM q),
        |post AS (
        |  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM (
        |    SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok)
        |  WHERE term IN (SELECT term FROM qterm)
        |  GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT term, CAST(count(*) AS DOUBLE) AS df
        |  FROM post GROUP BY 1),
        |scored AS (
        |  SELECT qt.query_id, p.doc_id,
        |    ROUND(sum(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
        |      * p.tf / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
        |    ), 6) AS score,
        |    count(*) AS n_terms
        |  FROM post p
        |  JOIN dfreq d USING (term)
        |  JOIN qterm qt USING (term)
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT query_id, doc_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id
        |    ) AS rank, score, n_terms
        |  FROM scored)
        |SELECT query_id, doc_id, rank, score, n_terms
        |FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // x190: the vocabulary-growth report replayed — per-shard doc /
    // token-mass / posting / distinct-term counts, and new terms via
    // anti-join against the growing prior union (shard B's prior is
    // base ∪ A)
    "x190_bm25_store_report" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents WHERE doc_id < 460),
        |post AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(t) AS term FROM tok)
        |  GROUP BY 1, 2),
        |ra AS (
        |  SELECT 'a' AS ingest_shard,
        |    (SELECT count(*) FROM tok
        |       WHERE doc_id >= 300 AND doc_id < 400) AS n_docs,
        |    (SELECT CAST(coalesce(sum(len(t)), 0) AS BIGINT) FROM tok
        |       WHERE doc_id >= 300 AND doc_id < 400) AS sum_dl,
        |    (SELECT count(*) FROM post
        |       WHERE doc_id >= 300 AND doc_id < 400) AS n_postings,
        |    (SELECT count(DISTINCT term) FROM post
        |       WHERE doc_id >= 300 AND doc_id < 400) AS n_terms,
        |    (SELECT count(*) FROM (
        |       SELECT DISTINCT term FROM post
        |         WHERE doc_id >= 300 AND doc_id < 400) s
        |       WHERE s.term NOT IN (
        |         SELECT term FROM post WHERE doc_id < 300)) AS n_new_terms),
        |rb AS (
        |  SELECT 'b' AS ingest_shard,
        |    (SELECT count(*) FROM tok
        |       WHERE doc_id >= 400 AND doc_id < 460) AS n_docs,
        |    (SELECT CAST(coalesce(sum(len(t)), 0) AS BIGINT) FROM tok
        |       WHERE doc_id >= 400 AND doc_id < 460) AS sum_dl,
        |    (SELECT count(*) FROM post
        |       WHERE doc_id >= 400 AND doc_id < 460) AS n_postings,
        |    (SELECT count(DISTINCT term) FROM post
        |       WHERE doc_id >= 400 AND doc_id < 460) AS n_terms,
        |    (SELECT count(*) FROM (
        |       SELECT DISTINCT term FROM post
        |         WHERE doc_id >= 400 AND doc_id < 460) s
        |       WHERE s.term NOT IN (
        |         SELECT term FROM post WHERE doc_id < 400)) AS n_new_terms)
        |SELECT * FROM ra UNION ALL SELECT * FROM rb
        |ORDER BY ingest_shard""".stripMargin,

    // x191: the streamed store's final readout ≡ the same batch BM25
    // replay over base ∪ batch 0 ∪ batch 1 — arrival-order invariance
    // at the oracle
    "x191_stream_bm25_ingest" ->
      """WITH q(query_id, qtext) AS (VALUES
        |  (CAST(1 AS BIGINT), 'spark window agg'),
        |  (CAST(2 AS BIGINT), 'slow query scan'),
        |  (CAST(3 AS BIGINT), 'customer table join fast')),
        |tok AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents WHERE doc_id < 300),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  avg(len(t)) AS avgdl FROM tok),
        |qterm AS (
        |  SELECT query_id, unnest(list_distinct(list_filter(
        |    string_split_regex(trim(lower(qtext)), '\s+'),
        |    x -> len(x) > 0))) AS term
        |  FROM q),
        |post AS (
        |  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM (
        |    SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok)
        |  WHERE term IN (SELECT term FROM qterm)
        |  GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT term, CAST(count(*) AS DOUBLE) AS df
        |  FROM post GROUP BY 1),
        |scored AS (
        |  SELECT qt.query_id, p.doc_id,
        |    ROUND(sum(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
        |      * p.tf / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
        |    ), 6) AS score,
        |    count(*) AS n_terms
        |  FROM post p
        |  JOIN dfreq d USING (term)
        |  JOIN qterm qt USING (term)
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT query_id, doc_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id
        |    ) AS rank, score, n_terms
        |  FROM scored)
        |SELECT query_id, doc_id, rank, score, n_terms
        |FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // x183: old-canonical (prior windows of shard-touched grams) vs
    // new-canonical (prior ∪ shard) selection, emitting the displaced
    // prior occurrences — the retraction feed replayed
    "x183_exact_substr_retractions" ->
      """WITH tokb AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM documents WHERE doc_id < 500),
        |clones AS (
        |  SELECT doc_id - 40000 AS doc_id,
        |    list_slice(toks, 1, CAST(20 + doc_id % 35 AS INT)) AS toks
        |  FROM tokb WHERE doc_id >= 40 AND doc_id < 80),
        |spans_base AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(list_slice(toks, i + 1, i + 20), ' ') AS gram
        |  FROM tokb, UNNEST(CASE WHEN len(toks) >= 20
        |    THEN range(0, len(toks) - 19) ELSE [] END) AS u(i)),
        |spans_clone AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(list_slice(toks, i + 1, i + 20), ' ') AS gram
        |  FROM clones, UNNEST(CASE WHEN len(toks) >= 20
        |    THEN range(0, len(toks) - 19) ELSE [] END) AS u(i)),
        |touched AS (SELECT b.* FROM spans_base b
        |  WHERE b.gram IN (SELECT gram FROM spans_clone)),
        |oldc AS (
        |  SELECT gram, doc_id, pos FROM (
        |    SELECT gram, doc_id, pos,
        |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        |    FROM touched) WHERE rn = 1),
        |newc AS (
        |  SELECT gram, doc_id, pos FROM (
        |    SELECT gram, doc_id, pos,
        |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        |    FROM (SELECT * FROM touched
        |          UNION ALL SELECT * FROM spans_clone)) WHERE rn = 1)
        |SELECT DISTINCT o.doc_id, CAST(o.pos AS BIGINT) AS pos
        |FROM oldc o JOIN newc n USING (gram)
        |WHERE o.doc_id <> n.doc_id OR o.pos <> n.pos
        |ORDER BY o.doc_id, pos""".stripMargin,

    // x184: the streamed store's final state is pinned to the SAME
    // batch replay (arrival-order-invariant canonical selection),
    // bounded to the docs<200 fixture
    "x184_stream_exact_substr" ->
      """WITH tokb AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM documents WHERE doc_id < 200),
        |corpus AS (
        |  SELECT doc_id, toks FROM tokb
        |  UNION ALL
        |  SELECT doc_id + 40000 AS doc_id,
        |    list_slice(toks, 1, CAST(20 + doc_id % 35 AS INT)) AS toks
        |  FROM tokb WHERE doc_id < 40),
        |spans AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(list_slice(toks, i + 1, i + 20), ' ') AS gram
        |  FROM corpus, UNNEST(CASE WHEN len(toks) >= 20
        |    THEN range(0, len(toks) - 19) ELSE [] END) AS u(i)),
        |dupg AS (SELECT gram FROM spans GROUP BY gram HAVING count(*) >= 2),
        |dspans AS (SELECT s.doc_id, s.pos, s.gram
        |  FROM spans s JOIN dupg USING (gram)),
        |canon AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, row_number() OVER (PARTITION BY gram
        |      ORDER BY doc_id, pos) AS rn
        |    FROM dspans) WHERE rn = 1),
        |covdup AS (
        |  SELECT DISTINCT doc_id, pos + d AS p
        |  FROM dspans, UNNEST(range(0, 20)) AS u(d)),
        |covcanon AS (
        |  SELECT DISTINCT doc_id, pos + d AS p
        |  FROM canon, UNNEST(range(0, 20)) AS u(d)),
        |removed AS (
        |  SELECT cd.doc_id, cd.p
        |  FROM covdup cd LEFT JOIN covcanon cc
        |    ON cd.doc_id = cc.doc_id AND cd.p = cc.p
        |  WHERE cc.p IS NULL),
        |tokpos AS (
        |  SELECT doc_id, i AS pos, toks[CAST(i + 1 AS INT)] AS tok
        |  FROM corpus, UNNEST(CASE WHEN len(toks) > 0
        |    THEN range(0, len(toks)) ELSE [] END) AS u(i)),
        |clean AS (
        |  SELECT tp.doc_id,
        |    sum(CASE WHEN r.p IS NOT NULL THEN 1 ELSE 0 END) AS n_removed,
        |    coalesce(string_agg(CASE WHEN r.p IS NULL THEN tp.tok END,
        |      ' ' ORDER BY tp.pos), '') AS clean_text
        |  FROM tokpos tp
        |  LEFT JOIN removed r ON tp.doc_id = r.doc_id AND tp.pos = r.p
        |  GROUP BY tp.doc_id)
        |SELECT c.doc_id, CAST(len(c.toks) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(cl.n_removed, 0) AS BIGINT) AS n_removed,
        |  coalesce(cl.clean_text, '') AS clean_text
        |FROM corpus c LEFT JOIN clean cl USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin,

    // x181: same detection CTEs, then gaps-and-islands over the per-doc
    // covered positions; kept = every position canonical-protected
    "x181_exact_substr_spans" ->
      """WITH tokb AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, toks FROM tokb
        |  UNION ALL
        |  SELECT doc_id + 40000 AS doc_id,
        |    list_slice(toks, 1, CAST(20 + doc_id % 35 AS INT)) AS toks
        |  FROM tokb WHERE doc_id < 40),
        |spans AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(list_slice(toks, i + 1, i + 20), ' ') AS gram
        |  FROM corpus, UNNEST(CASE WHEN len(toks) >= 20
        |    THEN range(0, len(toks) - 19) ELSE [] END) AS u(i)),
        |dupg AS (SELECT gram FROM spans GROUP BY gram HAVING count(*) >= 2),
        |dspans AS (SELECT s.doc_id, s.pos, s.gram
        |  FROM spans s JOIN dupg USING (gram)),
        |canon AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, row_number() OVER (PARTITION BY gram
        |      ORDER BY doc_id, pos) AS rn
        |    FROM dspans) WHERE rn = 1),
        |covdup AS (
        |  SELECT DISTINCT doc_id, pos + d AS p
        |  FROM dspans, UNNEST(range(0, 20)) AS u(d)),
        |covcanon AS (
        |  SELECT DISTINCT doc_id, pos + d AS p
        |  FROM canon, UNNEST(range(0, 20)) AS u(d)),
        |cov AS (
        |  SELECT cd.doc_id, cd.p, cc.p IS NOT NULL AS prot
        |  FROM covdup cd LEFT JOIN covcanon cc
        |    ON cd.doc_id = cc.doc_id AND cd.p = cc.p),
        |isl AS (
        |  SELECT doc_id, p, prot,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM cov),
        |sp AS (
        |  SELECT doc_id, min(p) AS span_start, count(*) AS span_len,
        |    min(CASE WHEN prot THEN 1 ELSE 0 END) = 1 AS kept
        |  FROM isl GROUP BY doc_id, grp)
        |SELECT s.doc_id, CAST(s.span_start AS BIGINT) AS span_start,
        |  CAST(s.span_len AS BIGINT) AS span_len, s.kept,
        |  array_to_string(list_slice(c.toks,
        |    CAST(s.span_start + 1 AS INT),
        |    CAST(s.span_start + s.span_len AS INT)), ' ') AS span_text
        |FROM sp s JOIN corpus c USING (doc_id)
        |ORDER BY s.doc_id, s.span_start""".stripMargin,

    // x177: the x141 KN replay + a per-group percent_rank window; the
    // bucket fractions are written as the SAME float expressions the
    // engine evaluates (1.0/3 and 1.0/3 + 1.0/3 — never 2.0/3, which
    // could round to a different double than the engine's sum)
    "x177_perplexity_buckets" ->
      """WITH mtok AS (
        |  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0) AS ts
        |  FROM documents),
        |bi AS (SELECT a, b, count(*) AS c
        |  FROM (SELECT ts[i] AS a, ts[i + 1] AS b
        |        FROM mtok, UNNEST(range(1, len(ts))) AS u(i)) GROUP BY a, b),
        |ctx AS (SELECT a, CAST(sum(c) AS DOUBLE) AS c1,
        |    CAST(count(*) AS DOUBLE) AS n1f
        |  FROM bi GROUP BY a),
        |pred AS (SELECT b, CAST(count(*) AS DOUBLE) AS n1p FROM bi GROUP BY b),
        |tot AS (SELECT
        |    (SELECT CAST(count(*) AS DOUBLE) FROM bi) AS t,
        |    (SELECT CAST(count(*) AS DOUBLE) FROM
        |      (SELECT a AS w FROM bi UNION SELECT b AS w FROM bi)) AS v),
        |d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 <= 1 THEN 'en'
        |         WHEN doc_id % 4 = 2 THEN 'fr' ELSE 'de' END AS lang,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> len(x) > 0) AS ts
        |  FROM documents),
        |dbg AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        |  FROM d, UNNEST(range(1, len(ts))) AS u(i)),
        |sc AS (
        |  SELECT g.doc_id,
        |    CASE WHEN ctx.c1 IS NOT NULL THEN
        |      GREATEST(CAST(coalesce(b.c, 0) AS DOUBLE) - 0.75, 0.0) / ctx.c1
        |        + (0.75 * ctx.n1f / ctx.c1) *
        |          ((coalesce(pred.n1p, 0) + 0.5) / (tot.t + 0.5 * tot.v))
        |    ELSE (coalesce(pred.n1p, 0) + 0.5) / (tot.t + 0.5 * tot.v)
        |    END AS p
        |  FROM dbg g
        |  LEFT JOIN bi b ON b.a = g.w1 AND b.b = g.w2
        |  LEFT JOIN ctx ON ctx.a = g.w1
        |  LEFT JOIN pred ON pred.b = g.w2, tot),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    ROUND(avg(-ln(p)), 6) AS kn_nll
        |  FROM sc GROUP BY doc_id),
        |f AS (
        |  SELECT d.doc_id, d.lang, coalesce(a.n_bigrams, 0) AS n_bigrams,
        |    coalesce(a.kn_nll, 0.0) AS kn_nll
        |  FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id),
        |r AS (SELECT *, percent_rank() OVER (
        |    PARTITION BY lang ORDER BY kn_nll, doc_id) AS pr FROM f)
        |SELECT doc_id, lang, n_bigrams, kn_nll,
        |  CASE WHEN pr < 1.0/3 THEN 'head'
        |       WHEN pr < 1.0/3 + 1.0/3 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM r ORDER BY doc_id""".stripMargin,

    // Mining replay: flagged pairs cross the full corpus, 6dp candidate
    // cosines, strictly-better filter BEFORE the per-pair top-3 window
    // (cand_score desc, media id asc — the engine's tie-break), margin
    // as IEEE subtraction of the round6 inputs, round6'd
    "x173_mismatch_mining" ->
      """WITH emb AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (SELECT b.vec_id AS pair_id, b.v AS tv, m.v AS mv
        |  FROM emb b JOIN emb m
        |    ON m.vec_id = CASE WHEN b.vec_id % 10 = 7
        |                       THEN b.vec_id + 1 ELSE b.vec_id END),
        |sc AS (SELECT pair_id, tv,
        |    ROUND(list_cosine_similarity(tv, mv), 6) AS align_score
        |  FROM p),
        |fl AS (SELECT * FROM sc WHERE align_score < 0.99),
        |cand AS (SELECT f.pair_id, f.align_score, e.vec_id AS cand_media_id,
        |    ROUND(list_cosine_similarity(f.tv, e.v), 6) AS cand_score
        |  FROM fl f CROSS JOIN emb e),
        |top AS (SELECT * FROM cand WHERE cand_score > align_score
        |  QUALIFY row_number() OVER (PARTITION BY pair_id
        |    ORDER BY cand_score DESC, cand_media_id) <= 3)
        |SELECT pair_id, align_score, cand_media_id, cand_score,
        |  ROUND(cand_score - align_score, 6) AS margin
        |FROM top ORDER BY pair_id, cand_score DESC, cand_media_id""".stripMargin,

    // ICWS replay: the full Ioffe '10 draw — five md5 uniforms per
    // (dimension, sample), Gamma(2,1) via -(ln u + ln u'), the
    // 6dp-rounded tier floor and ln a grid (the x131 round-before-
    // consumer playbook so both engines' argmins see identical grids),
    // the argmin as a min over the single DECIMAL encoding
    // (lna6 + 1e9)*1e18 + h60(d) % 1e18 — ties break by reduced
    // dimension hash on both engines — bucket collisions, then the EXACT
    // weighted Jaccard (integer min/max sums) on candidate pairs
    "x168_weighted_jaccard" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id + 10000,
        |    array_to_string(list_reverse(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)), ' ')
        |  FROM documents WHERE doc_id < 30
        |  UNION ALL
        |  SELECT doc_id + 20000,
        |    text || ' ' || array_to_string(list_transform(range(0, 5),
        |      i -> list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)[1]), ' ')
        |  FROM documents WHERE doc_id < 30),
        |tf AS (
        |  SELECT doc_id, d, CAST(count(*) AS BIGINT) AS w
        |  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |          x -> len(x) > 0)) AS d FROM corpus)
        |  GROUP BY 1, 2),
        |spl AS (
        |  SELECT doc_id, d, w, CAST(u.j AS INT) AS j,
        |    (CAST(('0x' || substring(md5('icws|' || d || '|' || u.j || '|1'), 1, 13)) AS BIGINT) + 0.5) / 4503599627370496.0 AS u1,
        |    (CAST(('0x' || substring(md5('icws|' || d || '|' || u.j || '|2'), 1, 13)) AS BIGINT) + 0.5) / 4503599627370496.0 AS u2,
        |    (CAST(('0x' || substring(md5('icws|' || d || '|' || u.j || '|3'), 1, 13)) AS BIGINT) + 0.5) / 4503599627370496.0 AS u3,
        |    (CAST(('0x' || substring(md5('icws|' || d || '|' || u.j || '|4'), 1, 13)) AS BIGINT) + 0.5) / 4503599627370496.0 AS u4,
        |    (CAST(('0x' || substring(md5('icws|' || d || '|' || u.j || '|5'), 1, 13)) AS BIGINT) + 0.5) / 4503599627370496.0 AS u5
        |  FROM tf, UNNEST(range(0, 8)) AS u(j)),
        |g AS (
        |  SELECT doc_id, d, w, j,
        |    -(ln(u1) + ln(u2)) AS r, -(ln(u3) + ln(u4)) AS c, u5 AS beta
        |  FROM spl),
        |tv AS (
        |  SELECT doc_id, d, w, j, r, c, beta,
        |    floor(round(ln(CAST(w AS DOUBLE)) / r + beta, 6)) AS t
        |  FROM g),
        |sc AS (
        |  SELECT doc_id, d, j,
        |    CAST(CAST(round((ln(c) - r * (t - beta) - r) * 1000000) AS BIGINT)
        |        + 1000000000 AS HUGEINT) * 1000000000000000000
        |      + (CAST(('0x' || substring(md5(d), 1, 15)) AS BIGINT)
        |         % 1000000000000000000) AS enc
        |  FROM tv),
        |bk AS (
        |  SELECT doc_id, j, min(enc) AS bucket FROM sc GROUP BY 1, 2),
        |pj AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bk a JOIN bk b ON a.j = b.j AND a.bucket = b.bucket
        |    AND a.doc_id < b.doc_id),
        |dimset AS (
        |  SELECT p.id_a, p.id_b, t.d FROM pj p JOIN tf t ON t.doc_id = p.id_a
        |  UNION
        |  SELECT p.id_a, p.id_b, t.d FROM pj p JOIN tf t ON t.doc_id = p.id_b),
        |v AS (
        |  SELECT ds.id_a, ds.id_b,
        |    sum(least(coalesce(a.w, 0), coalesce(b.w, 0))) AS mn,
        |    sum(greatest(coalesce(a.w, 0), coalesce(b.w, 0))) AS mx
        |  FROM dimset ds
        |  LEFT JOIN tf a ON a.doc_id = ds.id_a AND a.d = ds.d
        |  LEFT JOIN tf b ON b.doc_id = ds.id_b AND b.d = ds.d
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, ROUND(CAST(mn AS DOUBLE) / mx, 6) AS wjaccard
        |FROM v WHERE ROUND(CAST(mn AS DOUBLE) / mx, 6) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,

    // Length-batch replay: same bucket rule, same md5 ordering key,
    // same capacity/perBatch arithmetic — integer-exact end to end
    "x167_length_batches" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 AS shard,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0)) AS INT) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, shard, n_tokens,
        |    greatest(CAST(ceil(n_tokens / 32.0) AS INT), 1) AS bucket,
        |    md5('lb|' || CAST(doc_id AS VARCHAR)) AS key
        |  FROM d),
        |r AS (
        |  SELECT *, CAST(bucket AS BIGINT) * 32 AS bucket_cap,
        |    greatest(CAST(floor(2048.0 / (CAST(bucket AS BIGINT) * 32)) AS BIGINT), 1) AS per,
        |    CAST(row_number() OVER (
        |      PARTITION BY shard, bucket ORDER BY key, doc_id) - 1 AS BIGINT) AS rn
        |  FROM b)
        |SELECT shard, doc_id, n_tokens, bucket, bucket_cap,
        |  rn // per AS batch, CAST(rn % per AS INT) AS slot
        |FROM r ORDER BY shard, doc_id""".stripMargin,

    // Winnow-decontamination replay: both sides' fingerprints via the
    // x161 list encoding, DISTINCT (id, fp, pos) resp. (bench_id, fp),
    // then the join + span extent
    "x166_winnow_decontam" ->
      """WITH bench AS (
        |  SELECT doc_id AS bench_id, substring(text, 40, 120) AS text
        |  FROM documents WHERE doc_id < 20),
        |cg AS (
        |  SELECT doc_id, greatest(len(text) - 15, 1) AS m,
        |    list_transform(range(0, greatest(len(text) - 15, 1)),
        |      i -> CAST(CAST('0x' || substring(md5(substring(text, CAST(i + 1 AS INT), 16)), 1, 15) AS BIGINT) AS HUGEINT) * 1048576
        |        + (1048575 - i)) AS encs
        |  FROM documents),
        |bg AS (
        |  SELECT bench_id, greatest(len(text) - 15, 1) AS m,
        |    list_transform(range(0, greatest(len(text) - 15, 1)),
        |      i -> CAST(CAST('0x' || substring(md5(substring(text, CAST(i + 1 AS INT), 16)), 1, 15) AS BIGINT) AS HUGEINT) * 1048576
        |        + (1048575 - i)) AS encs
        |  FROM bench),
        |csel AS (
        |  SELECT doc_id, list_distinct(list_transform(range(0, greatest(m - 4, 0) + 1),
        |      s -> list_min(list_slice(encs, CAST(s + 1 AS INT), CAST(s + 4 AS INT))))) AS sels
        |  FROM cg),
        |bsel AS (
        |  SELECT bench_id, list_distinct(list_transform(range(0, greatest(m - 4, 0) + 1),
        |      s -> list_min(list_slice(encs, CAST(s + 1 AS INT), CAST(s + 4 AS INT))))) AS sels
        |  FROM bg),
        |cfp AS (
        |  SELECT DISTINCT doc_id, CAST(e // 1048576 AS BIGINT) AS fp,
        |    CAST(1048575 - e % 1048576 AS INT) AS pos
        |  FROM csel, UNNEST(sels) AS t(e)),
        |bfp AS (
        |  SELECT DISTINCT bench_id, CAST(e // 1048576 AS BIGINT) AS fp
        |  FROM bsel, UNNEST(sels) AS t(e))
        |SELECT c.doc_id, b.bench_id,
        |  CAST(count(DISTINCT c.fp) AS BIGINT) AS shared,
        |  min(c.pos) AS span_start, max(c.pos) AS span_end
        |FROM cfp c JOIN bfp b ON c.fp = b.fp
        |GROUP BY 1, 2 HAVING count(DISTINCT c.fp) >= 3
        |ORDER BY doc_id, bench_id""".stripMargin,

    // Energy-segmentation replay: identical framing (ceil(len/32)
    // frames, truncated tail), per-frame byte sums, then the same
    // gaps-and-islands rule (frame - row_number constant within a run)
    "x164_energy_segments" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN substring(text, 1, 100) || repeat(' ', 64) || substring(text, 101)
        |      ELSE text END AS payload
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(payload) / 32.0) AS INT)), fr ->
        |      CAST(coalesce(list_sum(list_transform(
        |        range(CAST(fr * 32 AS INT), CAST(least((fr + 1) * 32, len(payload)) AS INT)),
        |        i -> ord(substring(payload, CAST(i + 1 AS INT), 1)))), 0) AS BIGINT)) AS energies
        |  FROM corpus),
        |fr AS (
        |  SELECT doc_id, CAST(u.fi AS INT) AS frame,
        |    f.energies[CAST(u.fi + 1 AS INT)] AS energy
        |  FROM f, UNNEST(range(0, len(f.energies))) AS u(fi)),
        |act AS (
        |  SELECT doc_id, frame, energy,
        |    frame - CAST(row_number() OVER (
        |      PARTITION BY doc_id ORDER BY frame) AS INT) AS grp
        |  FROM fr WHERE energy >= 2000)
        |SELECT doc_id AS media_id, min(frame) AS seg_start,
        |  max(frame) AS seg_end, CAST(count(*) AS INT) AS n_frames,
        |  CAST(sum(energy) AS BIGINT) AS energy_sum
        |FROM act GROUP BY doc_id, grp
        |ORDER BY media_id, seg_start""".stripMargin,

    // Shot-segmentation replay: per-frame dHash via the x162 grid
    // formula over each 32-byte frame slice, lag-hamming boundaries,
    // running boundary count as the shot id
    "x165_shot_segments" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |    repeat(substring(text || repeat('x', 96), 1, 32), 5)
        |    || repeat(substring(text || repeat('x', 96), 33, 32), 5)
        |    || repeat(substring(text || repeat('x', 96), 65, 32), 5) AS payload
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, CAST(u.fi AS INT) AS frame,
        |    substring(payload, CAST(u.fi * 32 + 1 AS INT), 32) AS s
        |  FROM corpus, UNNEST(range(0, CAST(ceil(len(payload) / 32.0) AS INT))) AS u(fi)),
        |lum AS (
        |  SELECT doc_id, frame,
        |    list_transform(range(0, 64), c ->
        |      CAST(coalesce(list_sum(list_transform(range(CAST(c AS INT), len(s), 64),
        |        i -> ord(substring(s, CAST(i + 1 AS INT), 1)))), 0) AS BIGINT)) AS lum
        |  FROM fr),
        |h AS (
        |  SELECT doc_id, frame,
        |    CAST(coalesce(list_sum(list_transform(range(0, 56), b ->
        |      CASE WHEN lum[CAST((b // 7) * 8 + (b % 7) + 2 AS INT)]
        |             > lum[CAST((b // 7) * 8 + (b % 7) + 1 AS INT)]
        |        THEN CAST(CAST(1 AS BIGINT) << CAST(b AS INT) AS HUGEINT)
        |        ELSE CAST(0 AS HUGEINT) END)), 0) AS BIGINT) AS dh
        |  FROM lum),
        |tr AS (
        |  SELECT doc_id, frame, dh,
        |    lag(dh) OVER (PARTITION BY doc_id ORDER BY frame) AS prev
        |  FROM h),
        |bd AS (
        |  SELECT doc_id, frame,
        |    CASE WHEN prev IS NULL THEN 0
        |      WHEN bit_count(xor(dh, prev)) > 3 THEN 1 ELSE 0 END AS isb
        |  FROM tr),
        |sh AS (
        |  SELECT doc_id, frame,
        |    CAST(sum(isb) OVER (PARTITION BY doc_id ORDER BY frame
        |      ROWS UNBOUNDED PRECEDING) AS INT) AS shot
        |  FROM bd)
        |SELECT doc_id AS media_id, shot, min(frame) AS start_frame,
        |  max(frame) AS end_frame, CAST(count(*) AS INT) AS n_frames
        |FROM sh GROUP BY doc_id, shot
        |ORDER BY media_id, shot""".stripMargin,

    // Prefix-filter Jaccard replay: the NAIVE all-pairs formulation —
    // bounded fixture, so the quadratic truth is cheap here while the
    // operator's prefix path is the one that scales
    "x159_prefix_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id + 10000, text || ' zq1 zq2'
        |  FROM documents WHERE doc_id < 40),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> len(x) > 0)) AS toks
        |  FROM d
        |  WHERE len(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0)) > 0),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      (len(a.toks) + len(b.toks)
        |        - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM p
        |WHERE jaccard >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // Record-linkage replay: same blocking join, agreement predicates,
    // and fixed-order weight sum
    "x151_record_linkage" ->
      """WITH a AS (
        |  SELECT c_custkey AS id_a, substr(c_name, -2, 2) AS blk,
        |    c_name AS name_a, c_nationkey AS nat_a, c_mktsegment AS seg_a
        |  FROM customer),
        |b AS (
        |  SELECT c_custkey + 1000000 AS id_b, substr(c_name, -2, 2) AS blk,
        |    substr(c_name, 1, 9) || substr(c_name, 11) AS name_b,
        |    CASE WHEN c_custkey % 9 = 0 THEN c_nationkey + 1
        |      ELSE c_nationkey END AS nat_b,
        |    CASE WHEN c_custkey % 6 = 0 THEN 'CORRUPTED'
        |      ELSE c_mktsegment END AS seg_b
        |  FROM customer WHERE c_custkey % 3 = 0),
        |p AS (
        |  SELECT id_a, id_b,
        |    levenshtein(name_a, name_b) <= 1 AS agree_c_name,
        |    nat_a = nat_b AS agree_c_nationkey,
        |    seg_a = seg_b AS agree_c_mktsegment
        |  FROM a JOIN b USING (blk)),
        |sc AS (
        |  SELECT *, ROUND((CASE WHEN agree_c_name THEN 3.0 ELSE -2.0 END)
        |    + (CASE WHEN agree_c_nationkey THEN 1.5 ELSE -1.0 END)
        |    + (CASE WHEN agree_c_mktsegment THEN 1.5 ELSE -0.5 END), 6)
        |    AS score
        |  FROM p)
        |SELECT id_a, id_b, agree_c_name, agree_c_nationkey,
        |  agree_c_mktsegment, score,
        |  CASE WHEN score >= 4.0 THEN 'match'
        |    WHEN score >= 2.0 THEN 'possible' END AS tier
        |FROM sc WHERE score >= 2.0
        |ORDER BY id_a, id_b""".stripMargin,

    // Z-order replay: the magic-mask spread chain unrolled per
    // dimension, exact integer normalization, bucket = top 6 bits
    "x149_zorder_layout" ->
      """WITH e AS (
        |  SELECT CAST(user_id AS BIGINT) AS a,
        |    CAST(floor(value) AS BIGINT) AS b
        |  FROM events),
        |bo AS (SELECT min(a) AS mna, max(a) AS mxa,
        |    min(b) AS mnb, max(b) AS mxb FROM e),
        |n0 AS (SELECT a, b,
        |    (CASE WHEN mxa = mna THEN 0
        |      ELSE (a - mna) * 65535 // (mxa - mna) END) & 65535 AS x1,
        |    (CASE WHEN mxb = mnb THEN 0
        |      ELSE (b - mnb) * 65535 // (mxb - mnb) END) & 65535 AS y1
        |  FROM e, bo),
        |s1 AS (SELECT a, b, (x1 | (x1 << 8)) & 16711935 AS x2,
        |    (y1 | (y1 << 8)) & 16711935 AS y2 FROM n0),
        |s2 AS (SELECT a, b, (x2 | (x2 << 4)) & 252645135 AS x3,
        |    (y2 | (y2 << 4)) & 252645135 AS y3 FROM s1),
        |s3 AS (SELECT a, b, (x3 | (x3 << 2)) & 858993459 AS x4,
        |    (y3 | (y3 << 2)) & 858993459 AS y4 FROM s2),
        |s4 AS (SELECT a, b, (x4 | (x4 << 1)) & 1431655765 AS x5,
        |    (y4 | (y4 << 1)) & 1431655765 AS y5 FROM s3),
        |z AS (SELECT a, b, (x5 | (y5 << 1)) >> 26 AS bucket FROM s4)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |  min(a) AS min_a, max(a) AS max_a,
        |  min(b) AS min_b, max(b) AS max_b
        |FROM z GROUP BY bucket
        |ORDER BY bucket""".stripMargin,

    "x09_knn_bruteforce" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 6) AS cosine_sim
        |  FROM embeddings e CROSS JOIN q)
        |SELECT vec_id, cosine_sim FROM scored
        |ORDER BY cosine_sim DESC, vec_id LIMIT 20""".stripMargin)

  /** x21/x33 compose the single-metric oracles (x03 quality, x04 langid,
    * x23 repetition) as CTEs — the oracle mirrors the Spark composition
    * stage for stage without duplicating the metric SQL. */
  /** Builder-authored DuckDB replay of x163's token LCS (the x132
    * chained-CTE convention): the classic DP unrolled over the
    * reference's <= 16 positions, one prefix-max window per step.
    * Recurrence: dp_t[j] = max(dp_{t-1}[j], max_{i<=j, cand[i]=ref[t]}
    * (dp_{t-1}[i-1] + 1)) — ref token t is either unmatched or matched
    * to some candidate position i <= j, which removes the within-row
    * dp_t[j-1] dependency a direct 2-D unroll would need (a window
    * can't consume its own output); steps past a short reference leave
    * dp unchanged (no position matches), so the fixed 16-step unroll
    * is exact for every ref length. Verified cell-for-cell against an
    * independent full-matrix LCS while authoring. */
  private val rougeLOracle: String = {
    val base =
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_slice(toks, 1, 30) AS cand,
        |    list_concat(list_slice(toks, 9, 16), list_slice(toks, 1, 8)) AS ref
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |            x -> len(x) > 0) AS toks
        |        FROM documents)),
        |r0 AS (
        |  SELECT doc_id, CAST(j AS INT) AS j, 0 AS dp
        |  FROM tk, UNNEST(range(0, len(cand) + 1)) AS u(j))""".stripMargin
    val steps = (1 to 16).map { t =>
      s"""r$t AS (
         |  SELECT doc_id, j, greatest(dp, coalesce(
         |    max(CASE WHEN mtch THEN dpm1 + 1 END) OVER (
         |      PARTITION BY doc_id ORDER BY j ROWS UNBOUNDED PRECEDING), 0)) AS dp
         |  FROM (
         |    SELECT r.doc_id AS doc_id, r.j AS j, r.dp AS dp,
         |      lag(r.dp) OVER (PARTITION BY r.doc_id ORDER BY r.j) AS dpm1,
         |      (r.j >= 1 AND len(t.ref) >= $t AND t.cand[r.j] = t.ref[$t]) AS mtch
         |    FROM r${t - 1} r JOIN tk t ON r.doc_id = t.doc_id) q)""".stripMargin
    }
    val fin =
      """lcst AS (
        |  SELECT doc_id, max_by(dp, j) AS lcs FROM r16 GROUP BY doc_id)
        |SELECT t.doc_id, CAST(l.lcs AS INT) AS lcs,
        |  CAST(len(t.cand) AS INT) AS cand_len,
        |  CAST(len(t.ref) AS INT) AS ref_len,
        |  ROUND(CASE WHEN len(t.cand) = 0 THEN 0.0
        |    ELSE CAST(l.lcs AS DOUBLE) / len(t.cand) END, 6) AS rouge_p,
        |  ROUND(CASE WHEN len(t.ref) = 0 THEN 0.0
        |    ELSE CAST(l.lcs AS DOUBLE) / len(t.ref) END, 6) AS rouge_r,
        |  ROUND(CASE WHEN l.lcs = 0 THEN 0.0 ELSE
        |    2.0 * (CAST(l.lcs AS DOUBLE) / len(t.cand)) * (CAST(l.lcs AS DOUBLE) / len(t.ref))
        |      / ((CAST(l.lcs AS DOUBLE) / len(t.cand)) + (CAST(l.lcs AS DOUBLE) / len(t.ref))) END, 6) AS rouge_f
        |FROM tk t JOIN lcst l ON t.doc_id = l.doc_id
        |ORDER BY t.doc_id""".stripMargin
    (base +: steps :+ fin).mkString(",\n")
  }

  val oracle: Map[String, String] = oracleBase +
    ("x163_rouge_l" -> rougeLOracle) +
    // stream == batch for the stateless winnow screen: the flagged-side
    // readback must hash-match x166's replay verbatim
    ("x169_stream_winnow_screen" -> oracleBase("x166_winnow_decontam")) +
    // x140 = x112 through the automaton: semantics pinned identical, so
    // the oracle is literally the same replay
    ("x140_blocklist_scaled" -> oracleBase("x112_blocklist_filter")) +
    ("x126_langid_confusion" ->
      s"""WITH l AS (${oracleBase("x04_langid")}),
         |c AS (SELECT lang AS true_lang, predicted_lang AS pred_lang,
         |    count(*) AS n_docs
         |  FROM l GROUP BY 1, 2),
         |t AS (SELECT true_lang, sum(n_docs) AS tot FROM c GROUP BY 1)
         |SELECT c.true_lang, c.pred_lang, c.n_docs,
         |  ROUND(CAST(c.n_docs AS DOUBLE) / t.tot, 6) AS frac
         |FROM c JOIN t USING (true_lang)
         |ORDER BY c.true_lang, c.pred_lang""".stripMargin) +
    ("x21_corpus_prep" ->
      s"""WITH q AS (${oracleBase("x03_text_quality")}),
         |l AS (${oracleBase("x04_langid")}),
         |d AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
         |SELECT l.predicted_lang AS pred_lang, l.lang AS true_lang, count(*) AS n_docs,
         |  CAST(sum(q.token_cnt) AS BIGINT) AS total_tokens
         |FROM q JOIN l USING (doc_id) JOIN d USING (doc_id)
         |WHERE q.quality_score >= 0.3 AND l.predicted_lang <> 'unknown'
         |GROUP BY 1, 2""".stripMargin) +
    ("x34_llm_prep_e2e" ->
      s"""WITH q AS (${oracleBase("x03_text_quality")}),
         |k AS (
         |  SELECT doc_id,
         |    (len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0))
         |       BETWEEN 5 AND 100000
         |     AND NOT contains(text, '{')
         |     AND NOT contains(lower(text), 'lorem ipsum')
         |     AND NOT regexp_matches(lower(text),
         |       'enable javascript|javascript is required|cookies enabled')) AS keep
         |  FROM documents),
         |kept AS (
         |  SELECT d.doc_id, d.lang, d.text
         |  FROM documents d JOIN k USING (doc_id) JOIN q USING (doc_id)
         |  WHERE k.keep AND q.quality_score >= 0.3),
         |surv AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text),
         |ded AS (SELECT kept.* FROM kept JOIN surv USING (doc_id)),
         |scr AS (
         |  SELECT doc_id, lang,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
         |      '\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b', '[PHONE]', 'g'),
         |      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g') AS text
         |  FROM ded),
         |tok AS (
         |  SELECT doc_id, lang,
         |    list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS toks
         |  FROM scr),
         |st AS (
         |  SELECT doc_id, lang, toks, unnest(
         |    CASE WHEN len(toks) = 0 THEN CAST([] AS BIGINT[])
         |         WHEN len(toks) <= 8 THEN [CAST(0 AS BIGINT)]
         |         ELSE range(0, len(toks) - 8, 24) END) AS start
         |  FROM tok)
         |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  count(*) AS n_chunks,
         |  CAST(sum(len(list_slice(toks, start + 1, start + 32))) AS BIGINT) AS total_chunk_tokens
         |FROM st GROUP BY 1""".stripMargin) +
    ("x33_corpus_report" ->
      s"""WITH q AS (${oracleBase("x03_text_quality")}),
         |r AS (${oracleBase("x23_repetition")}),
         |k AS (
         |  SELECT doc_id,
         |    (len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0))
         |       BETWEEN 5 AND 100000
         |     AND NOT contains(text, '{')
         |     AND NOT contains(lower(text), 'lorem ipsum')
         |     AND NOT regexp_matches(lower(text),
         |       'enable javascript|javascript is required|cookies enabled')) AS keep
         |  FROM documents)
         |SELECT d.lang, count(*) AS n_docs,
         |  CAST(sum(q.token_cnt) AS BIGINT) AS total_tokens,
         |  ROUND(avg(q.quality_score), 6) AS mean_quality,
         |  ROUND(avg(CASE WHEN k.keep THEN 1.0 ELSE 0.0 END), 6) AS keep_frac,
         |  ROUND(avg(r.repetition), 6) AS mean_repetition
         |FROM documents d JOIN q USING (doc_id) JOIN k USING (doc_id)
         |  JOIN r USING (doc_id)
         |GROUP BY 1""".stripMargin) +
    ("x100_percentile_norm" ->
      s"""WITH q AS (${oracleBase("x03_text_quality")}),
         |j AS (
         |  SELECT d.doc_id, d.source, q.quality_score
         |  FROM q JOIN documents d USING (doc_id)),
         |p AS (
         |  SELECT doc_id, source, quality_score,
         |    ROUND(percent_rank() OVER (
         |      PARTITION BY source ORDER BY quality_score), 6) AS pct
         |  FROM j)
         |SELECT doc_id, source, quality_score, pct, (pct >= 0.2) AS keep
         |FROM p ORDER BY doc_id""".stripMargin)
}
