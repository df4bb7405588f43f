package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard verification. Extension surface (beyond
  * reference scope — SURVEY.md §7 "north star").
  *
  * Scale design: every method is a constant number of shuffles independent of
  * corpus size — exact dedup is one hash aggregate on the content key;
  * MinHash/SimHash candidate generation is explode-by-band + hash-partition
  * on (band, bucket), so only same-bucket documents ever meet (never an
  * O(n^2) cross join); Jaccard verification runs only on the candidate pairs.
  */
object Dedup {

  /** Exact dedup: one surviving row (min id) per distinct content value +
    * duplicate multiplicity. Single hash aggregate keyed on the FULL content
    * column — the verification baseline. For corpus-scale jobs use
    * [[exactByDigest]]: shuffling whole document texts as the aggregate key
    * moves the entire corpus through one exchange. */
  def exact(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(col(contentCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .drop(contentCol)

  /** Exact dedup keyed on a content digest — the corpus-scale default. The
    * shuffle key narrows from the document text (KBs) to one value of
    * 8 bytes (`xxhash64`) or 32 bytes (`sha2-256`), so the dedup exchange
    * carries ids+digests instead of the corpus. Results equal [[exact]]
    * barring a digest collision (~2^-64 for xxhash64 / cryptographically
    * negligible for sha2) — the same argument the hashed-shingle paths
    * (contamination, MinHash) already rely on; agreement is pinned by spec.
    * Set `crypto = true` to pay the wider key for collision paranoia. */
  def exactByDigest(df: DataFrame, contentCol: String, idCol: String,
      crypto: Boolean = false): DataFrame = {
    val digest =
      if (crypto) sha2(col(contentCol).cast("binary"), 256)
      else xxhash64(col(contentCol))
    df.groupBy(digest.as("__digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .drop("__digest")
  }

  /** Exact dedup with SOURCE-PRIORITY survivor election — the
    * cross-dataset union move: when the same content appears in several
    * datasets (a curated set, a wiki dump, a web crawl), keep the copy
    * from the highest-priority source, NOT the min id ([[exact]]'s rule,
    * which would keep whichever dataset happened to get lower ids).
    * Survivor = max (priority, then min id as the deterministic
    * tie-break); emits the survivor's id, its priority, and the group's
    * multiplicity. Same narrow 8-byte digest shuffle key as
    * [[exactByDigest]] (equal groups barring a ~2^-64 collision), and the
    * election is a single max_by aggregate — one exchange total. */
  def exactByPriority(df: DataFrame, contentCol: String, idCol: String,
      priorityCol: String): DataFrame =
    // null-id rows are excluded up front (the same normalization
    // resolveClusters applies — a null survivor id would silently drop
    // from downstream joins). The election is min_by over
    // (-priority, id), NOT max_by over (priority, -id): ids then need
    // only an ORDERING, so string/digest ids work — negating the id
    // would restrict the op to numerics and overflow on Long.MinValue.
    // The PRIORITY negation rides a double cast for the same overflow
    // reason: negate(Long.MinValue) has no integral representation
    // (ANSI error / silent wrap making MinValue sort as the LARGEST
    // priority), while doubles are sign-symmetric — exact for every
    // |priority| < 2^53, far beyond any real source-rank domain. A NULL
    // priority coalesces to -Infinity (negated: +Infinity, sorts last),
    // so it counts in dup_count but never beats a ranked copy — without
    // the coalesce a null sorts FIRST in the struct ordering and a
    // null-priority row would win every election it appears in. An
    // all-null group falls back to the min-id survivor.
    df.filter(col(idCol).isNotNull)
      .groupBy(xxhash64(col(contentCol)).as("__digest"))
      .agg(
        min_by(
          struct(col(idCol).as("id"), col(priorityCol).as("priority")),
          struct(
            negate(coalesce(col(priorityCol).cast("double"),
              lit(Double.NegativeInfinity))),
            col(idCol))).as("__w"),
        count(lit(1)).as("dup_count"))
      .select(col("__w.id").as(idCol),
        col("__w.priority").as(priorityCol), col("dup_count"))

  /** Paragraph-level exact dedup (the RefinedWeb/Dolma-style pass that runs
    * BELOW document granularity): split every document on `sep`, keep each
    * distinct paragraph only at its FIRST corpus occurrence — min
    * (id, pos) lexicographically — and flag every later copy. Returns the
    * exploded frame (id, pos, para, kept) so callers can reassemble the
    * surviving paragraphs per document or aggregate removal stats.
    *
    * Scale shape: the first-occurrence aggregate is keyed on the 8-byte
    * xxhash64 digest of the paragraph (the [[exactByDigest]] argument —
    * equal results barring a ~2^-64 collision), so the dedup exchange
    * carries (digest, id, pos) triples; paragraph TEXT stays in the
    * map-side explode and the final digest-keyed join, never as a wide
    * shuffle key. Two shuffles total, both on the digest. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val paras = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
      .withColumn("__digest", xxhash64(col("para")))
    val firsts = paras.groupBy(col("__digest"))
      .agg(min(struct(col("id"), col("pos"))).as("__first"))
    paras.join(firsts, Seq("__digest"))
      .withColumn("kept",
        col("id") === col("__first.id") && col("pos") === col("__first.pos"))
      .select(col("id"), col("pos"), col("para"), col("kept"))
  }

  /** Reassemble the cleaned corpus from [[paragraphDedup]]'s output: per
    * document, surviving paragraphs rejoin on `sep` in original position
    * order. Documents whose every paragraph was dropped vanish (their
    * text would be empty — downstream length filters would cut them
    * anyway). One grouped aggregate; the order is restored by sorting the
    * (pos, para) structs inside the row, not by a global sort. */
  def reassembleKept(deduped: DataFrame, sep: String = "\n\n"): DataFrame =
    deduped.filter(col("kept"))
      .groupBy(col("id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          s => s.getField("para")),
        sep).as("text"))

  /** w-token shingles of a token array: ["a","b","c"], w=2 -> ["a b","b c"].
    * Fewer than w tokens -> single shingle of the whole text. */
  def shingles(tokens: Column, w: Int): Column =
    // one native per-row loop (r14) — the interpreted
    // transform/sequence/slice spelling this replaces built every
    // shingle through per-element lambda dispatch; fallback contract
    // unchanged (len <= w -> ONE whole-text shingle, dedup recall)
    graft.functions.WordGramFunctions.word_grams_whole(tokens, w)

  /** MinHash signature as a single-pass fold over the shingle array:
    * min(xxhash64(j, shingle)) for j in [0, k). Returns array<long> of
    * length k (Broder '97). The fold shape matters: the shingle array is
    * evaluated ONCE per row — a naive `transform(seq(k), j -> array_min(
    * transform(sh, ...)))` re-inlines (and re-evaluates) the tokenize+shingle
    * expression k times after projection collapse, which is catastrophic in
    * Spark's interpreted higher-order-function path. Prefer
    * [[minhashSignatures]] (explode + hash-aggregate, fully codegen'd) for
    * corpus-scale jobs; this column form is for ad-hoc use. */
  def minhashSignature(shingleArr: Column, k: Int): Column =
    aggregate(shingleArr,
      array_repeat(lit(Long.MaxValue), k),
      (acc, s) => zip_with(acc, sequence(lit(0), lit(k - 1)),
        (m, j) => least(m, xxhash64(j, s))))

  /** (id, sig) MinHash signatures for a whole corpus as ONE map-only pass:
    * native [[graft.functions.ShingleHashes]] (one hash per token, windows
    * combined as longs — no w-gram strings) feeds the native
    * [[graft.functions.MinHashSigs]] expression (k mins in a per-row
    * primitive loop). No explode, NO SHUFFLE — the former explode +
    * k-min-aggregate shape multiplied the corpus by ~tokens-per-doc rows
    * and paid a doc-id exchange just to regroup per-document state; it is
    * kept as [[minhashSignaturesAgg]] and pinned bit-identical by spec.
    * NOTE [[graft.functions.ShingleHashes]] emits ONE whole-text shingle
    * for docs at or below the window size (including empty docs), so the
    * shingle array is never empty and no doc yields a NULL signature in
    * practice — the isNotNull filter below is defensive only (it would
    * matter for a shingle expression that CAN return empty). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleW: Int, k: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.MinHashFunctions.minhash_sigs(
        graft.functions.ShingleFunctions.shingle_hashes(
          TextAnalysis.tokens(col(textCol)), shingleW), k).as("sig"))
      .filter(col("sig").isNotNull)

  /** The explode + grouped-min formulation — the cross-check reference for
    * [[minhashSignatures]] (same values, one extra exchange). */
  private[graft] def minhashSignaturesAgg(df: DataFrame, idCol: String,
      textCol: String, shingleW: Int, k: Int): DataFrame = {
    val exploded = df
      .select(col(idCol).as("id"),
        explode(array_distinct(graft.functions.ShingleFunctions
          .shingle_hashes(TextAnalysis.tokens(col(textCol)), shingleW))).as("h"))
    val minCols = (0 until k).map(j => min(xxhash64(lit(j), col("h"))).as(s"m$j"))
    exploded.groupBy(col("id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"), array((0 until k).map(j => col(s"m$j")): _*).as("sig"))
  }

  /** LSH banding: split the k-length signature into `bands` bands of
    * k/bands rows each, hash each band -> array of (band index, bucket). */
  def lshBandHashes(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), xxhash64(b, slice(sig, b * r + 1, lit(r))).as("bucket")))
  }

  /** Same-bucket candidate pairs with a hot-bucket skew guard. Buckets up to
    * `maxBucketSize` produce all intra-bucket pairs (the classic LSH shape);
    * LARGER buckets are star-linked instead — every member pairs with TWO
    * anchors, the bucket's min id and max id — which is linear in bucket
    * size where all-pairs is quadratic. At 100 TB one degenerate bucket
    * (boilerplate docs, empty strings) would otherwise dominate the whole
    * job. Star edges preserve cluster connectivity for [[resolveClusters]]
    * when an anchor shares a duplicate group with the member (the group
    * stays one connected component through that anchor) and the downstream
    * exact-similarity verify still rejects false positives.
    *
    * RECALL BOUND (documented trade-off): a duplicate group inside an
    * oversized bucket keeps its connectivity in THAT band only if it
    * contains one of the two anchors — with TWO OR MORE distinct groups in
    * one bucket, a group holding neither the min- nor the max-id member
    * loses its intra-pairs in that band (star edges into it from a
    * foreign-group anchor fail the Jaccard/hamming verify) and must be
    * recovered by another band. Two anchors cover the two largest-id-spread
    * groups per bucket — strictly better than the single-hub variant, and
    * near-certain recovery remains for real near-dups (signatures agree on
    * most bands); the guarantee-less case is pathological corpora where
    * THREE+ unrelated groups collide in EVERY band. Callers needing the
    * classic no-cap guarantee can pass `maxBucketSize = Int.MaxValue` and
    * accept the quadratic hot-bucket cost.
    * Input: (id, band, bucket). Output: (id_a, id_b) with id_a < id_b. */
  private[ops] def bucketCandidates(buckets: DataFrame, maxBucketSize: Int): DataFrame = {
    // NOTE on materialization: the buckets frame is referenced by several
    // downstream branches, but persisting it here measured SLOWER at both
    // sf0.1 and the 200k-doc smoke (cache write + extra job cost more than
    // recomputing the narrow codegen'd subtree); the one materialization
    // that measured faster is the candidate-pair persist in the callers.
    val sized = buckets.join(
      buckets.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("bsz"), min(col("id")).as("bmin"),
          max(col("id")).as("bmax")),
      Seq("band", "bucket"))
    val small = sized.filter(col("bsz") <= maxBucketSize)
    val a = small.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = small.select(col("band"), col("bucket"), col("id").as("id_b"))
    val allPairs = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val hot = sized.filter(col("bsz") > maxBucketSize)
    val starPairs = hot.filter(col("id") =!= col("bmin"))
      .select(col("bmin").as("id_a"), col("id").as("id_b"))
      .unionByName(hot.filter(col("id") =!= col("bmax"))
        .select(col("id").as("id_a"), col("bmax").as("id_b")))
    allPairs.unionByName(starPairs).distinct()
  }

  /** MinHash+LSH near-duplicate pairs over (idCol, textCol):
    * shingle -> k minhashes -> band buckets -> same-bucket candidate pairs
    * -> exact shingle-Jaccard filter at `threshold`.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, deduplicated.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleW: Int = 5, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Int = 256): DataFrame = {
    // Candidate generation: signatures -> band buckets -> same-bucket pairs.
    // Only (band, bucket, id) travels through the self-join; shingle sets are
    // joined back per-id AFTER pair dedup so the wide arrays never ride the
    // candidate shuffle.
    val buckets = minhashSignatures(df, idCol, textCol, shingleW, k)
      .select(col("id"), explode(lshBandHashes(col("sig"), k, bands)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    // The narrow (id_a, id_b) candidate frame is used twice below (id prune +
    // verify join): persist + eager count so the signature/bucket pipeline
    // runs exactly ONCE — without it the two consumers race to recompute the
    // whole subtree (measured 2.6x slower at sf0.1). The frame is tiny
    // (pairs only), so memory cost is negligible at any scale; release
    // follows the [[Caching]] contract (scoped registry + ContextCleaner).
    val cand = Caching.scoped(bucketCandidates(buckets, maxBucketSize))
    cand.count()
    // verify-side shingles are recomputed only for ids that survived into a
    // candidate pair (semi-join prune on the narrow id column) — the wide
    // shingle arrays are built once per CANDIDATE doc, not once per corpus
    // doc: at corpus scale the candidate set is orders of magnitude smaller
    // than the corpus, so the full-corpus tokenize+shingle pass is the waste
    val candIds = cand.select(col("id_a").as("jid"))
      .unionByName(cand.select(col("id_b").as("jid"))).distinct()
    val sh = df.join(candIds, col(idCol) === col("jid"), "left_semi")
      .select(col(idCol).as("id"),
        array_distinct(graft.functions.ShingleFunctions
          .shingle_hashes(TextAnalysis.tokens(col(textCol)), shingleW)).as("sh"))
    jaccardOnPairs(cand, sh)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** [[minhashLshPairs]] on the PORTABLE md5 hash family
    * ([[graft.functions.Md5ShingleHashes]] / [[Md5MinHashSigs]]): the
    * same shingle -> k-minhash -> band-bucket -> candidate -> exact-
    * Jaccard pipeline, with every hash value replayable from the formula
    * alone (`h60(s) = CAST('0x'||substring(md5(s),1,15) AS BIGINT)`), so
    * an external engine — the DuckDB oracle in particular — reproduces
    * the full output including the candidate set. Band buckets need no
    * hash at all here: the bucket KEY is the comma-joined signature
    * slice (grouping on a string key is family-neutral and replayable;
    * the xxhash64 family hashes the slice only to compress the shuffle
    * key to 8 bytes). Same shuffle shape and skew guard as the xxhash64
    * path; the md5 work is ~1+k short digests per shingle in one
    * per-row primitive loop. Production dedup should prefer
    * [[minhashLshPairs]] (faster hashing, no shingle strings); the two
    * families are pinned to recover the same planted near-dup pairs by
    * spec. */
  def minhashLshPairsPortable(df: DataFrame, idCol: String, textCol: String,
      shingleW: Int = 5, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Int = 256): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val r = k / bands
    import graft.functions.Md5ShingleFunctions._
    val sigs = df.select(col(idCol).as("id"),
        md5_minhash_sigs(md5_shingle_hashes(
          TextAnalysis.tokens(col(textCol)), shingleW), k).as("sig"))
      .filter(col("sig").isNotNull)
    val buckets = sigs
      .withColumn("bb", explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          concat_ws(",", transform(slice(col("sig"), b * r + 1, r),
            x => x.cast("string"))).as("bucket"))): _*)))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    val cand = Caching.scoped(bucketCandidates(buckets, maxBucketSize))
    cand.count()
    val candIds = cand.select(col("id_a").as("jid"))
      .unionByName(cand.select(col("id_b").as("jid"))).distinct()
    val sh = df.join(candIds, col(idCol) === col("jid"), "left_semi")
      .select(col(idCol).as("id"),
        array_distinct(md5_shingle_hashes(
          TextAnalysis.tokens(col(textCol)), shingleW)).as("sh"))
    jaccardOnPairs(cand, sh)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact shingle-set Jaccard for explicit candidate pairs given a per-id
    * shingle frame `(id, sh)`. Returns (id_a, id_b, jaccard) with jaccard
    * UNROUNDED so callers filter at full precision before display rounding.
    * Shared by [[minhashLshPairs]] and [[IncrementalDedup]] so the two
    * paths verify with the IDENTICAL expression — the incremental ≡ full
    * equality pinned by spec rests on it. */
  private[ops] def jaccardOnPairs(cand: DataFrame, sh: DataFrame): DataFrame =
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** 64-bit SimHash (Charikar '02) per document as ONE map-only pass: the
    * native [[graft.functions.SimHash64]] expression runs every token's
    * bit votes and the sign packing in a per-row primitive loop — no
    * explode, NO SHUFFLE (the former explode + 64-sum aggregate is kept as
    * [[simhashAgg]] and pinned bit-identical by spec). Token-less docs
    * yield no row, matching the aggregate formulation. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.SimHashFunctions
        .simhash64(TextAnalysis.tokens(col(textCol))).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** The explode + grouped-64-sum formulation — the cross-check reference
    * for [[simhash]] (same values, one extra exchange). */
  private[graft] def simhashAgg(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    // branch-free bit votes: (bit*2 - 1) maps {0,1} -> {-1,+1} without a
    // conditional, keeping the 64 aggregate expressions pure arithmetic
    // inside codegen
    val bitSums = (0 until 64).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"b$b")
    }
    val packed = (0 until 64).map { b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    tok.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", packed)
      .select(col("id"), col("simhash"))
  }

  /** SimHash near-duplicate pairs: band the 64-bit hash into four 16-bit
    * chunks (pigeonhole: hamming<=3 pairs share at least one exact chunk),
    * bucket-join, then exact hamming filter via bit_count(xor). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 256): DataFrame =
    simhashPairsFromSigs(simhash(df, idCol, textCol), chunkBits = 16,
      maxHamming = maxHamming, maxBucketSize = maxBucketSize)

  /** [[simhashPairs]] on the PORTABLE md5 hash family: a 60-bit SimHash
    * ([[graft.functions.Md5SimHash60]] — 60 bits so the signature and
    * every per-token hash stay non-negative in a signed BIGINT on both
    * engines) banded into four 15-bit chunks, same candidate/verify
    * pipeline. Every value is replayable from the md5 formula alone, so
    * the DuckDB oracle reproduces the full output. Production near-dup
    * detection should prefer [[simhashPairs]] (xxhash64, no string
    * digesting); this family is the oracle-checkable surface. */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 256): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
        graft.functions.Md5ShingleFunctions
          .md5_simhash60(TextAnalysis.tokens(col(textCol))).as("simhash"))
      .filter(col("simhash").isNotNull)
    simhashPairsFromSigs(sh, chunkBits = 15,
      maxHamming = maxHamming, maxBucketSize = maxBucketSize)
  }

  /** The shared band/bucket/star-anchor/hamming-verify pipeline behind
    * both simhash families AND [[Multimodal.perceptualNearDupPairs]]'s
    * dHash: `sh` is (id, simhash), `chunkBits` the band width (4 bands
    * packed low-to-high). */
  private[graft] def simhashPairsFromSigs(sh: DataFrame, chunkBits: Int,
      maxHamming: Int, maxBucketSize: Int): DataFrame = {
    val mask = (1L << chunkBits) - 1
    val banded = sh.withColumn("bb", explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * chunkBits).bitwiseAND(mask).as("chunk"))): _*)))
      .select(col("id"), col("simhash"), col("bb.band"), col("bb.chunk"))
    // same dual-consumer materialization as [[bucketCandidates]]: the
    // 64-sum simhash aggregate must not run once per consumer
    val bandedP = Caching.scoped(banded)
    bandedP.count()
    // hot-bucket guard (see [[bucketCandidates]] for rationale AND the
    // documented recall bound -- the same multi-group-bucket caveat applies
    // here, with the hamming filter in place of Jaccard): oversized buckets
    // star-link every member to BOTH the min-id and max-id anchors instead
    // of producing all pairs. The one-long simhash payload rides the
    // shuffle (cheap), and min_by/max_by carry the anchors' simhashes so
    // star edges need no join-back.
    val sized = bandedP.join(
      bandedP.groupBy(col("band"), col("chunk"))
        .agg(count(lit(1)).as("bsz"), min(col("id")).as("bmin"),
          expr("min_by(simhash, id)").as("bmin_sh"),
          max(col("id")).as("bmax"),
          expr("max_by(simhash, id)").as("bmax_sh")),
      Seq("band", "chunk"))
    val small = sized.filter(col("bsz") <= maxBucketSize)
    val a = small.select(col("band"), col("chunk"),
      col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = small.select(col("band"), col("chunk"),
      col("id").as("id_b"), col("simhash").as("sh_b"))
    val allPairs = a.join(b, Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
    val hot = sized.filter(col("bsz") > maxBucketSize)
    val starPairs = hot.filter(col("id") =!= col("bmin"))
      .select(col("bmin").as("id_a"), col("id").as("id_b"),
        col("bmin_sh").as("sh_a"), col("simhash").as("sh_b"))
      .unionByName(hot.filter(col("id") =!= col("bmax"))
        .select(col("id").as("id_a"), col("bmax").as("id_b"),
          col("simhash").as("sh_a"), col("bmax_sh").as("sh_b")))
    allPairs.unionByName(starPairs).distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Resolve near-duplicate PAIRS into duplicate CLUSTERS (connected
    * components) by iterative min-label propagation WITH pointer jumping:
    * each round every node takes the minimum label among itself and its
    * neighbors (one hop), then shortcuts to its label's label
    * (`cluster_id := label(cluster_id)`, doubling propagation distance).
    * The jump turns O(diameter) convergence into O(log diameter) — a
    * 1000-node near-dup chain resolves well inside the default `maxIter`
    * of 10 (distance at least doubles per round) where plain propagation
    * would silently emit a PARTIAL clustering after running out of
    * iterations. Convergence is detected with one cheap aggregate per
    * round (a hash-sum over (id, label) rows, equal across rounds iff no
    * label moved — type-generic, so string/digest ids work too). Each round is two joins + a grouped min on the (tiny)
    * label frame — shuffle-bounded, no driver-side graph. */
  def resolveClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 10,
      localEdgeLimit: Long = 1000000L): DataFrame = {
    // null ids are normalized ONCE so both paths below agree: a pair with
    // one null side contributes its non-null member as a singleton
    // self-edge (label = own id); fully-null rows drop. Without this the
    // local path (typed collect) and the distributed loop (null join keys
    // match nothing) handled half-null rows differently — outputs would
    // diverge purely on input size
    val clean = pairs.select(
        coalesce(col(idA), col(idB)).as(idA),
        coalesce(col(idB), col(idA)).as(idB))
      .filter(col(idA).isNotNull)
    // cache the (possibly expensive) pair-generation subtree: the probe's
    // limit+collect escalates through partition batches (1, 4, 16, ...)
    // as separate jobs until the cap-or-end is reached, and the cache
    // keeps those escalation passes (and the overflow path's two union
    // legs) from touching the verify pipeline more than once — removing
    // this persist measured x49/x51 ~2.5s WORSE under the escalation
    val p = clean.persist()
    // SMALL-INPUT FAST PATH: when the pair set fits on the driver (narrow
    // (long, long) rows; the default 1M cap is ~50 MB collected), resolve
    // components with a local union-find instead of the distributed loop.
    // The loop's per-iteration cost is pure scheduling at small sizes
    // (~1.5-3s of fixed overhead per call measured at sf0.1 across
    // x12/x26/x36/x48/x49) while the union-find is microseconds; at scale
    // the probe overflows the cap and the checkpoint-truncated pointer
    // jumping below takes over — same labels either way (min id per
    // component, pinned by spec), so oracles cannot tell the paths apart.
    // The path decision and the fast path's input share ONE action —
    // limit(cap + 1).collect() — instead of a count job followed by a
    // collect job: at sweep sizes every extra Spark action is ~0.3-0.5s
    // of pure scheduling, across every cluster query.
    //
    // The fast path only handles integral ids (it runs on primitive
    // longs); other id types — e.g. string digests — take the distributed
    // loop, whose min-label propagation needs only an ordering. The
    // output id type is pinned to what the distributed path would produce
    // (the common type of the two columns), so callers see one schema
    // regardless of which path the input size selected.
    val idTypes = Seq(idA, idB).map(c => p.schema(c).dataType)
    val integralIds = idTypes.forall {
      case _: org.apache.spark.sql.types.ByteType => true
      case _: org.apache.spark.sql.types.ShortType => true
      case _: org.apache.spark.sql.types.IntegerType => true
      case _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    // caps outside [0, Int.MaxValue-2] clamp instead of misbehaving: a
    // negative cap means "never local" (probe of 1 row suffices to
    // overflow), and a Long-sized cap means "local whenever the rows fit
    // in one driver array" — the old count-based gate's semantics
    val cap = math.max(0L, math.min(localEdgeLimit,
      (Int.MaxValue - 2).toLong)).toInt
    val probed: Option[Array[(Long, Long)]] =
      if (!integralIds) None
      else {
        val spark = pairs.sparkSession
        import spark.implicits._
        // rows land in primitive long arrays — at the 1M-edge cap that is
        // ~32 MB, where boxed java.lang.Long entries in a HashMap
        // measured several hundred MB of driver heap. Null ids were
        // normalized away above, so the typed collect cannot throw.
        val rows = graft.bench.StageTimers.time("resolveClusters.pairs_edges") {
          p.select(col(idA).cast("long"), col(idB).cast("long"))
            .limit(cap + 1)
            .as[(Long, Long)].collect()
        }
        if (rows.length > cap) None else Some(rows)
      }
    if (probed.isDefined) {
      val rows = probed.get
      val outType = p.select(col(idA).as("src"))
        .unionByName(p.select(col(idB).as("src"))).schema("src").dataType
      val out = graft.bench.StageTimers.time("resolveClusters.local_uf") {
        val spark = pairs.sparkSession
        import spark.implicits._
        p.unpersist()
        val parent = new LongLongMap(rows.length * 2)
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (c != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
          r
        }
        rows.foreach { case (a, b) =>
          if (!parent.contains(a)) parent.put(a, a)
          if (!parent.contains(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          // union by MIN: the surviving root is always the component's
          // smallest id, matching the distributed loop's min-label fixpoint
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
        val outRows = new Array[(Long, Long)](parent.size)
        var i = 0
        parent.foreachKey { id => outRows(i) = (id, find(id)); i += 1 }
        outRows.toSeq.toDF("id", "cluster_id")
          .select(col("id").cast(outType).as("id"),
            col("cluster_id").cast(outType).as("cluster_id"))
      }
      return out
    }
    // Eager checkpoint (NOT persist): it truncates the logical plan, so
    // the loop below never re-optimizes the whole pair-generation subtree —
    // without truncation each iteration's plan contains every previous
    // iteration and analysis time grows superlinearly (this alone was ~60%
    // of the round-1 bench). The label frames are tiny (ids that appear in
    // a duplicate pair), so re-materializing them per round is cheap.
    // RELIABLE checkpoint (HDFS/DFS) when the session has a checkpoint dir
    // configured — localCheckpoint blocks live only on executors, so a lost
    // executor would kill a long cluster job; local mode (no checkpoint
    // dir) keeps the cheap executor-local path.
    val useReliable = pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    def ckpt(df: DataFrame): DataFrame =
      if (useReliable) df.checkpoint() else df.localCheckpoint()
    // stage-timed so the bench splits cluster queries (x12/x26/x36) into
    // pair-generation (materialized by this first checkpoint) vs the
    // propagation loop — the same attribution q38 gets
    // No distinct() on the undirected union: resolution is multiplicity-
    // insensitive (labels init is distinct ids; neighbor aggregation is a
    // grouped MIN, unchanged by repeated edges), and when the input
    // carries id_a < id_b the two legs cannot collide anyway — the
    // distinct was a full extra shuffle of 2x|pairs| rows per call
    // (~10% of x12's sf0.1 cost, more at scale). Callers may hand in
    // duplicated pairs; they only fatten this one checkpoint, never
    // change the result.
    // MEASURED FLOOR (r6, VERDICT r5 item 7): when the caller's pair
    // frame is the lazy LSH-verify pipeline (x12), this checkpoint
    // materializes that whole subtree, and its cost is dominated by
    // per-stage scheduling of the many-exchange DAG, not data: 1.7s at
    // sf0.01 vs 2.1s at sf0.1 — a 10x data change moves it ~20%. The
    // data-proportional part is ~0.4s; the rest is local-mode fixed
    // overhead that amortizes away on a real cluster/bigger inputs
    // (the 200k-doc DedupScaleSmoke's per-doc cost keeps falling).
    val edges = graft.bench.StageTimers.time("resolveClusters.pairs_edges") {
      ckpt(p.select(col(idA).as("src"), col(idB).as("dst"))
        .unionByName(p.select(col(idB).as("src"), col(idA).as("dst"))))
    }
    p.unpersist()
    def propagate(): DataFrame = {
    var labels = ckpt(edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id")))
    // Convergence detector: bit_xor of per-row (id, label) HASHES — equal
    // across two consecutive rounds iff no label changed (rows are unique
    // per id, so XOR cancellation cannot hide a change; collision odds
    // ~2^-64 per comparison). bit_xor, NOT sum: ANSI mode overflows a
    // long sum of hashes (the round-1 bench bug, BASELINE.md). Type-
    // generic where the previous sum(cluster_id) only worked for numeric
    // ids (string/digest ids crashed the cast); min-label propagation
    // itself needs only an ordering.
    // coalesce: an empty pair set must yield an empty (not crashing) result
    def stateSum(df: DataFrame): Long =
      df.agg(coalesce(expr(
        "bit_xor(xxhash64(cast(id as string), cast(cluster_id as string)))"),
        lit(0L))).head().getLong(0)
    var prevSum = stateSum(labels)
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster_id").as("nbr")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("nbr").as("nbr_min"))
      // one real job per iteration (the eager checkpoint); the convergence
      // aggregate below re-reads the checkpointed blocks, it does not recompute
      val hopped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"))
      // pointer jump: cluster_id := label(cluster_id). Labels are always
      // node ids of the same component, so the self-join resolves; the
      // coalesce keeps roots (whose label is themselves) unchanged.
      val updated = ckpt(hopped.join(
          hopped.select(col("id").as("cluster_id"), col("cluster_id").as("__jump")),
          Seq("cluster_id"), "left")
        .select(col("id"), coalesce(col("__jump"), col("cluster_id")).as("cluster_id")))
      val newSum = stateSum(updated)
      labels = updated
      converged = newSum == prevSum
      prevSum = newSum
      i += 1
    }
    labels
    }
    graft.bench.StageTimers.time("resolveClusters.loop")(propagate())
  }

  /** Surviving corpus after cluster dedup: for every duplicate cluster keep
    * only the min-id member; rows never seen in a pair survive untouched. */
  def dedupByClusters(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = resolveClusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("__loser"))
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /** Embedding-cosine near-duplicate pairs, exact all-pairs — the
    * correctness baseline and the verify primitive behind
    * [[cosinePairsLsh]]. O(n^2) compares: use on small corpora (or inside
    * LSH buckets); the scale path is [[cosinePairsLsh]]. */
  def cosinePairsExact(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cosine_sim", round(Similarity.cosine(col("__va"), col("__vb")), 6))
      .filter(col("cosine_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine_sim"))
  }

  /** Embedding-cosine near-duplicate pairs at scale: one (planes x bands)-bit
    * sign-random-projection signature per vector ([[Similarity.srpSignature]],
    * data-independent hyperplanes, zero driver state), banded into `bands`
    * buckets of `planes` bits — a pair at angle theta collides in a given
    * band with probability (1 - theta/pi)^planes — then hot-bucket-capped
    * same-bucket candidates and an exact cosine verify at `threshold`.
    * Same shuffle shape as [[minhashLshPairs]]: explode-by-band,
    * hash-partition on (band, bucket), never an all-pairs join. The recall
    * bound documented on [[bucketCandidates]] applies. */
  def cosinePairsLsh(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 8, bands: Int = 4,
      maxBucketSize: Int = 256): DataFrame = {
    require(planes * bands <= 63, "SRP signature packs into a single long")
    val mask = (1L << planes) - 1
    val buckets = emb
      .select(col(idCol).as("id"),
        Similarity.srpSignature(col(vecCol), planes * bands).as("sig"))
      .withColumn("bb", explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * planes).bitwiseAND(mask).as("bucket"))): _*)))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    val cand = bucketCandidates(buckets, maxBucketSize)
    val v = emb.select(col(idCol).as("jid"), col(vecCol).as("jv"))
    cand
      .join(v.select(col("jid").as("id_a"), col("jv").as("__va")), Seq("id_a"))
      .join(v.select(col("jid").as("id_b"), col("jv").as("__vb")), Seq("id_b"))
      .withColumn("cosine_sim", round(Similarity.cosine(col("__va"), col("__vb")), 6))
      .filter(col("cosine_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine_sim"))
  }

  /** Collect a centroid frame to the driver-small array form the
    * assignment paths consume — the [[IVF.Model]] size contract. */
  private[graft] def collectCentroids(centroids: DataFrame, cidCol: String,
      cvecCol: String): Array[(Long, Array[Double])] = {
    val cents = centroids
      .select(col(cidCol).cast("long"), col(cvecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(cents.nonEmpty, "need at least one centroid")
    require(cents.forall(_._1 != Long.MinValue),
      "centroid id Long.MinValue unsupported (negated for tie-breaking)")
    cents
  }

  /** Nearest-centroid assignment shared by [[semanticDedup]] and the
    * persisted [[SemDedupStore]]: (id, vec, cluster_id, centroid_sim
    * 6dp) with the deterministic best-cosine-then-SMALLEST-cid tie
    * order the DuckDB oracles replay. Picks its shape by centroid
    * count exactly as the [[semanticDedup]] scaladoc argues: ≤ 64 a
    * map-only literal argmax, above that the broadcast-join +
    * partial-agg max (both pinned result-identical by spec). Returned
    * frame is lazy and unpersisted — multi-consumer callers persist. */
  private[graft] def assignToCentroids(emb: DataFrame, idCol: String,
      vecCol: String, cents: Array[(Long, Array[Double])]): DataFrame = {
    // max over (csim, -cid) structs = best cosine, then SMALLEST cid —
    // the same deterministic tie order the DuckDB oracle replays
    if (cents.length <= 64) {
      val scored = cents.map { case (cid, cv) =>
        struct(
          round(Similarity.cosine(col(vecCol), array(cv.map(lit(_)): _*)), 6)
            .as("csim"),
          lit(-cid).as("ncid"))
      }
      emb
        .withColumn("__best", array_max(array(scored: _*)))
        // separate projection on purpose: CollapseProject keeps the
        // non-cheap __best alias, so the argmax is computed once per row
        // WITHIN a branch
        .select(col(idCol), col(vecCol),
          (-col("__best.ncid")).cast("long").as("cluster_id"),
          col("__best.csim").as("centroid_sim"))
    } else {
      // large-nc assignment (see scaladoc): broadcast the centroid
      // frame, score map-side, reduce the NARROW (id, best-struct) rows
      // with a partial-aggregating max, and join the winners back by id
      // — vectors never ride the nc-times-expanded exchange
      val spark = emb.sparkSession
      val centSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__cid",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("__cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))))
      val centRows: Seq[org.apache.spark.sql.Row] = cents.toSeq.map {
        case (cid, cv) => org.apache.spark.sql.Row(cid, cv.toSeq)
      }
      val centDf = spark.createDataFrame(
        java.util.Arrays.asList(centRows: _*), centSchema)
      val best = emb.select(col(idCol), col(vecCol))
        .join(broadcast(centDf))
        .select(col(idCol),
          struct(round(Similarity.cosine(col(vecCol), col("__cv")), 6)
            .as("csim"), (-col("__cid")).as("ncid")).as("__s"))
        .groupBy(col(idCol)).agg(max(col("__s")).as("__best"))
      emb.join(best, Seq(idCol))
        .select(col(idCol), col(vecCol),
          (-col("__best.ncid")).cast("long").as("cluster_id"),
          col("__best.csim").as("centroid_sim"))
    }
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication scoped to
    * embedding-space clusters. Vectors are assigned to their
    * nearest-by-cosine centroid (ties broken by smallest centroid id),
    * pairwise cosine runs only WITHIN a cluster, and of each
    * above-`threshold` pair the member CLOSER to its centroid is
    * dropped — the paper's keep-the-outlier rule, which retains the most
    * diverse representative (tie on centroid similarity: the larger id
    * drops).
    *
    * Scale shape: this is the production path that makes embedding dedup
    * tractable where [[cosinePairsExact]] (all-pairs) cannot be — the
    * quadratic compare is confined to one cluster, so cost is
    * sum(|cluster|^2) not n^2; with k centroids sized so n/k is bounded
    * (the paper runs k-means with k in the tens of thousands at
    * LAION scale), per-cluster work stays flat as the corpus grows. The
    * centroid table is driver-small by the same contract as
    * [[IVF.Model]]. Assignment picks its shape by centroid count: up to
    * 64 centroids the argmax burns into ONE map-only literal expression
    * ([[IVF]]'s train/assign shape — no join, no shuffle for the assign
    * stage); above that the unrolled expression blows Janino's 64 KB
    * method limit (measured at nc=256: whole-stage codegen aborts and
    * every row pays interpreted eval), so the large-nc path — the only
    * one possible at the paper's k-in-the-tens-of-thousands — scores
    * via a broadcast join against the centroid frame and reduces with a
    * partial-aggregating max over narrow (id, csim, ncid) rows: vectors
    * stay map-side, the exchange carries one ~24-byte row per
    * (partition, id) thanks to map-side combine, and the winner joins
    * back to the input by id (both paths pinned result-identical by
    * spec). Then one hash exchange on cluster_id for the self-join and
    * flag joins that carry only 8-byte ids. A skewed giant cluster is
    * the operator's known hazard — the within-cluster compare is
    * quadratic in cluster size, so one cluster holding 10% of a 1B-vector
    * corpus costs 5e15 pairs no partitioning can save. `maxClusterSize`
    * (> 0 to enable) turns that silent wall into a loud one: one
    * count-by-cluster aggregate over the already-persisted assignment
    * (narrow (cluster_id, 1) rows, cost ~an ingest scan) and the call
    * refuses with the mitigation named — re-train with more centroids
    * (Abbas et al. run k in the tens of thousands at LAION scale) or
    * shard the hot cluster upstream. Measured on the adversarial fixture
    * ([[graft.tools.AnnScaleSmoke]], quiet host): 10k vectors collapsed
    * into ONE cluster = 5.0e7 pairwise rows, 13.5s at 64 dims — DOUBLE
    * the 6.7s for 100k well-spread vectors over 256 centroids (~2e7
    * in-cluster pairs), i.e. 10x less data costing 2x more; the guard
    * refuses the same input in 0.33s.
    *
    * Output: one row per input vector — (id, cluster_id, centroid_sim
    * rounded 6dp, is_dup = participates in any above-threshold pair,
    * kept = survives the drop rule). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      threshold: Double, maxClusterSize: Long = 0L): DataFrame = {
    val cents = collectCentroids(centroids, cidCol, cvecCol)
    // the persist keeps the assignment (literal dot-product chain or
    // scored join) from re-running for each of the three consumers
    // (a/b self-join legs + the final projection) — the
    // bigramNll/bm25TopK multi-consumer persist convention, registered
    // under the [[Caching]] contract (the returned frame is lazy;
    // Caching.releaseAll reclaims the subtree in long-lived sessions).
    val assigned = Caching.scoped(assignToCentroids(emb, idCol, vecCol, cents))
    if (maxClusterSize > 0) {
      // headOption, not head(): an empty input frame has no top cluster
      // and must pass through cleanly (empty output), not throw
      // NoSuchElementException. When the guard DOES fire, unpersist the
      // just-cached assignment first — the caller never receives the
      // frame, so nothing else can release it.
      assigned.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("__n")).orderBy(col("__n").desc)
        .limit(1).collect().headOption.foreach { top =>
          if (top.getLong(1) > maxClusterSize) {
            assigned.unpersist()
            throw new IllegalArgumentException(
              s"requirement failed: semanticDedup: cluster " +
              s"${top.getLong(0)} holds ${top.getLong(1)} " +
              s"vectors (maxClusterSize=$maxClusterSize); the within-cluster " +
              "compare is quadratic in cluster size — re-train with more " +
              "centroids or shard the hot cluster upstream before dedup")
          }
        }
    }
    val a = assigned.select(col(idCol).as("id_a"), col("cluster_id"),
      col(vecCol).as("__va"), col("centroid_sim").as("__ca"))
    val b = assigned.select(col(idCol).as("id_b"), col("cluster_id"),
      col(vecCol).as("__vb"), col("centroid_sim").as("__cb"))
    val pairs = a.join(b, Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("__ps",
        round(Similarity.cosine(col("__va"), col("__vb")), 6))
      .filter(col("__ps") >= threshold)
      .select(col("id_a"), col("id_b"), col("__ca"), col("__cb"))
    val dupIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("__did"))
      .distinct()
    val removedIds = pairs
      .select(when(col("__ca") > col("__cb"), col("id_a"))
        .when(col("__cb") > col("__ca"), col("id_b"))
        .otherwise(greatest(col("id_a"), col("id_b"))).as("__rid"))
      .distinct()
    assigned.drop(vecCol)
      .join(dupIds, col(idCol) === col("__did"), "left")
      .join(removedIds, col(idCol) === col("__rid"), "left")
      .withColumn("is_dup", col("__did").isNotNull)
      .withColumn("kept", col("__rid").isNull)
      .drop("__did", "__rid")
  }

  /** Rare-n-gram document linking — the EXACT candidate generator that
    * complements [[minhashLshPairs]]'s probabilistic one: two documents
    * become a candidate pair iff they share at least `minShared` word
    * n-grams whose global document frequency lies in [2, `maxDf`]. The
    * suffix-array dedup pipelines (Lee et al. 2022) and parallel-corpus
    * miners use exactly this "rare feature co-occurrence" signal: a gram
    * appearing in only a handful of documents is near-certain evidence of
    * copying, while frequent grams (boilerplate) carry no signal and are
    * dropped BEFORE the join — which is also what bounds the cost.
    *
    * Scale shape: grams are hashed to a 120-bit md5-derived composite
    * key (two 60-bit halves — a single 64-bit hex-to-long cast would
    * overflow under ANSI, and 60 bits alone is NOT collision-safe at
    * crawl scale: 1e10 distinct grams expect ~n^2/2^61 ≈ 40 birthday
    * collisions, each able to push a rare gram past maxDf or forge
    * shared-gram credit; at 120 bits the expectation is ~4e-17, the
    * same accepted envelope x22 documents) at the map side, so document
    * text never rides a shuffle and the oracle can still replay keys
    * bit-for-bit (md5, not xxhash64 — the
    * [[graft.ops.Sampling.contentHashSplit]] portability contract). The
    * df filter caps join fanout at maxDf^2 rows per gram; the pair
    * aggregate then carries only (id, id) — there is no quadratic blowup
    * anywhere and no skew hazard, because skewed (frequent) grams are by
    * definition above `maxDf`. */
  def rareNgramPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxDf: Int = 8, minShared: Int = 2): DataFrame = {
    require(n >= 1 && maxDf >= 2 && minShared >= 1)
    val toks = TextAnalysis.tokens(col(textCol))
    val grams = graft.functions.WordGramFunctions.word_grams(toks, n)
    // per-doc dedup happens MAP-SIDE (array_distinct before the explode),
    // so (id, gk) rows are already unique and the corpus-sized global
    // distinct shuffle the naive formulation starts with never exists
    // one native pass per row (r16: Md5PairKeys — the replaced
    // double-transform lambda chain digested to hex and string-parsed
    // base-16 twice per gram, interpreted per element)
    val keyed = df
      .select(col(idCol).as("id"),
        explode(graft.functions.Md5ShingleFunctions.md5_pair_keys(grams))
          .as("gk"))
    val counts = keyed.groupBy(col("gk"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df").between(2, maxDf))
      .select(col("gk"))
    // after the df filter every group holds <= maxDf ids, so the
    // collect_list is bounded by construction (never a skewed-group
    // hazard) and the pair expansion is map-side combinatorics over a
    // tiny sorted array; the gk aggregate reuses the join's partitioning,
    // so the whole op is three exchanges: df count, semi-join, pair count
    val rare = keyed.join(counts, Seq("gk"))
    rare.groupBy(col("gk"))
      .agg(sort_array(collect_list(col("id"))).as("__ids"))
      .select(explode(flatten(transform(col("__ids"), (a, i) =>
        transform(slice(col("__ids"), i + 2, size(col("__ids"))),
          b => struct(a.as("id_a"), b.as("id_b")))))).as("__p"))
      .select(col("__p.id_a"), col("__p.id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-SOURCE corpus overlap — exact n-gram-set Jaccard between every
    * pair of sources, the contamination/provenance audit run before
    * mixing corpora (how much of source B is already in source A decides
    * both mixture weights and whether a dedup pass must run across the
    * seam). Output: one row per unordered source pair — (source_a,
    * source_b, n_a, n_b, n_inter, jaccard 6dp), zero-intersection pairs
    * included.
    *
    * Scale shape: grams are md5-digested to the [[rareNgramPairs]]
    * 120-bit composite at the map side (document text never rides an
    * exchange; the oracle replays raw grams, identical sets at any scale
    * inside the documented 2^-120 envelope), then ONE (source, gram)
    * distinct; per-source sizes are a source-keyed aggregate of that
    * frame; the intersection self-join is gram-keyed with per-gram
    * fanout bounded by the SOURCE count (tens, not documents), and the
    * tiny size frames broadcast into the final pair join. For
    * estimate-only monitoring at a fraction of the cost, the mergeable
    * sketch variant is [[sourceOverlapMinhash]]. */
  def sourceOverlap(df: DataFrame, srcCol: String, textCol: String,
      n: Int = 3, hashed: Boolean = false): DataFrame = {
    // tokenize behind a projection boundary: shingles()' internal lambda
    // slices its token argument per element, and higher-order lambdas
    // re-inline expression arguments — passing tokens(...) directly
    // re-tokenizes every doc once per shingle (measured 5.5s -> 2.6s at
    // sf0.1 from this split alone). hashed=true swaps the md5 composite
    // for the native 8-byte xxhash64 shingle expression (the
    // [[graft.ops.TextAnalysis.contamination]] trade: no gram strings
    // materialized at all, 2^-64-family collision envelope, counts
    // pinned equal by spec; strings stay the default so the oracle
    // replays keys).
    val tokd = df.select(col(srcCol).as("src"),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
    val gramKey: Column =
      if (hashed)
        explode(array_distinct(graft.functions.ShingleFunctions
          .shingle_hashes(col("__toks"), n)))
      else
        // one native pass per row (r16: Md5PairKeys — see rareNgramPairs)
        explode(graft.functions.Md5ShingleFunctions
          .md5_pair_keys(shingles(col("__toks"), n)))
    val grams = tokd.select(col("src"), gramKey.as("gk")).distinct()
    val sizes = grams.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val inter = grams.as("a").join(grams.as("b"),
        col("a.gk") === col("b.gk") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    val pairs = sizes.select(col("src").as("source_a"), col("n").as("n_a"))
      .join(sizes.select(col("src").as("source_b"), col("n").as("n_b")),
        col("source_a") < col("source_b"))
    // broadcast the RIGHT side: a left-outer join cannot build (broadcast)
    // its left/preserved side — the old broadcast(pairs) hint was silently
    // dropped (HintErrorLogger warned on every run) and the tiny join fell
    // back to a shuffle; inter is just as small (<= source-pair count)
    pairs.join(broadcast(inter), Seq("source_a", "source_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")), 6))
  }

  /** MinHash-sketch estimate of [[sourceOverlap]] — per-source signatures
    * built in ONE mergeable aggregate (min per hash function), pairwise
    * Jaccard estimated as the fraction of agreeing signature slots
    * (Broder '97: P[min_a == min_b] = J). The per-source state is k
    * longs regardless of corpus size — the sketch merges across
    * partitions, shards, and days, so a monitoring pipeline keeps
    * signatures incrementally where the exact operator re-scans; k=128
    * gives stderr ~ sqrt(J(1-J)/k) <= 0.045. Accuracy vs the exact
    * operator is pinned by spec on a planted-overlap fixture. */
  def sourceOverlapMinhash(df: DataFrame, srcCol: String, textCol: String,
      n: Int = 3, k: Int = 128): DataFrame =
    estimateFromSignatures(srcSignatures(df, srcCol, textCol, n, k))

  /** (src, j, mh) signature frame — the mergeable sketch state behind
    * [[sourceOverlapMinhash]] and the persisted store.
    *
    * Shape (rewritten r10 after the first x104 bench read 70s at sf0.1):
    * per-DOC k-min signatures via the native [[minhashSignatures]] pass
    * (map-only, codegen'd), then ONE (src, j)-keyed element-wise min —
    * docs x k narrow rows through the exchange. The original form
    * exploded every (src, gram) into k interpreted-lambda struct rows
    * (grams x k, with per-element xxhash64 over the gram STRING): ~50x
    * more rows and the HOF dispatch on every one; measured 70.4s -> the
    * rewrite's sub-second (same fixture, isolated). Element-wise min
    * over doc signatures = min over the source's gram-hash set (min is
    * idempotent under cross-doc duplicates), so the estimate stays the
    * Broder '97 agreement probability. NOTE the hash family is part of
    * the PERSISTED STORE format (ShingleHashes+MinHashSigs since r10,
    * recorded in the store's `fam` column; xxhash64-over-gram-strings
    * before, which had no such column) — signatures from different
    * families must never be min-merged, and [[ingestSourceSignatures]]/
    * [[estimateSourceOverlap]] refuse a family-less or foreign-family
    * store loudly instead of silently corrupting estimates; rebuild on
    * upgrade. Sub-window docs behave exactly as in the string-shingle
    * form: ShingleHashes emits ONE whole-text shingle for n <= w
    * (including empty docs, whose constant whole-text hash every source
    * shares — the same cross-source agreement the "" string shingle
    * produced; no doc is dropped). */
  private[graft] val SigFamily = "shinglehash-minhashsigs-v2"

  private def srcSignatures(df: DataFrame, srcCol: String, textCol: String,
      n: Int, k: Int): DataFrame =
    minhashSignatures(df.select(col(srcCol), col(textCol)),
        srcCol, textCol, n, k)
      .select(col("id").as("src"), posexplode(col("sig")).as(Seq("j", "mh")))
      .groupBy(col("src"), col("j")).agg(min(col("mh")).as("mh"))
      .withColumn("fam", lit(SigFamily))

  /** Refuse to read signature state from a different (or unrecorded)
    * hash family — min-merging across families silently collapses
    * jaccard_est toward 0, the misreport class this store must never
    * emit. */
  private def requireSigFamily(df: DataFrame, path: String): DataFrame = {
    require(df.columns.contains("fam"),
      s"signature store at $path predates the recorded-family format " +
      s"(expected fam='$SigFamily'); its hash family cannot be verified " +
      "— rebuild the store with writeSourceSignatures")
    val foreign = df.select(col("fam")).distinct().collect()
      .map(_.getString(0)).filterNot(_ == SigFamily)
    require(foreign.isEmpty,
      s"signature store at $path holds family ${foreign.mkString(",")} " +
      s"but this build produces '$SigFamily' — min-merging across " +
      "families corrupts estimates; rebuild the store")
    df
  }

  private def estimateFromSignatures(sig: DataFrame): DataFrame =
    sig.as("a").join(sig.as("b"),
        col("a.j") === col("b.j") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(round(avg((col("a.mh") === col("b.mh")).cast("double")), 6)
        .as("jaccard_est"))

  /** PERSISTED per-source signature store — the incremental path for
    * overlap monitoring: daily shards merge into sources x k longs of
    * state via the sketch's min-merge, so the overlap dashboard never
    * re-scans history (the [[graft.ops.IncrementalDedup]] argument
    * applied to corpus-level monitoring). Writes commit through
    * [[DirSwap]] (`signatures__stage`, `signatures__old`) after writer
    * recovery; reads heal. A crash at any step loses at most the
    * in-flight shard — which replays idempotently (min-merge is
    * idempotent and commutative: re-ingesting a shard, or ingesting
    * shards in any order, lands on the same state, pinned by spec). */
  def writeSourceSignatures(spark: org.apache.spark.sql.SparkSession,
      root: String, df: DataFrame, srcCol: String, textCol: String,
      n: Int = 3, k: Int = 128): Unit = {
    val swap = DirSwap(spark, s"$root/signatures")
    swap.recover()
    srcSignatures(df, srcCol, textCol, n, k)
      .write.mode("overwrite").parquet(swap.stage.toString)
    swap.commit()
  }

  /** Merge one shard into the store (create-if-absent). */
  def ingestSourceSignatures(spark: org.apache.spark.sql.SparkSession,
      root: String, shard: DataFrame, srcCol: String, textCol: String,
      n: Int = 3, k: Int = 128): Unit = {
    val path = s"$root/signatures"
    val swap = DirSwap(spark, path)
    swap.recover()
    val shardSig = srcSignatures(shard, srcCol, textCol, n, k)
    val merged =
      if (swap.fs.exists(swap.target))
        requireSigFamily(spark.read.parquet(path), path)
          .unionByName(shardSig)
          .groupBy(col("src"), col("j")).agg(min(col("mh")).as("mh"))
          .withColumn("fam", lit(SigFamily))
      else shardSig
    // staged: the merged plan reads the current generation
    merged.write.mode("overwrite").parquet(swap.stage.toString)
    swap.commit()
  }

  /** Pairwise overlap estimate straight from the persisted store. */
  def estimateSourceOverlap(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame = {
    val path = s"$root/signatures"
    DirSwap(spark, path).heal()
    estimateFromSignatures(requireSigFamily(spark.read.parquet(path), path))
  }

  /** Exact n-gram Jaccard similarity for explicit candidate pairs
    * (verification primitive used after any LSH stage). The docs side is
    * semi-join-pruned to ids that actually appear in a pair BEFORE
    * tokenize+shingle: at corpus scale a small candidate set must not pay a
    * full-corpus shingling pass (that pass alone dominated the sf0.1 bench
    * at ~100x more docs than pairs). */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val pairIds = pairs.select(col("id_a").as("jid"))
      .unionByName(pairs.select(col("id_b").as("jid"))).distinct()
    val sh = docs.join(pairIds, col(idCol) === col("jid"), "left_semi")
      .select(col(idCol).as("jid"),
        array_distinct(shingles(TextAnalysis.tokens(col(textCol)), n)).as("jsh"))
    // the per-pair shingle intersect/union is compute far heavier than
    // the candidate frame's bytes — pin the verify leg's parallelism
    // ([[Skew.repartitionForPairCompute]], the AQE-coalescing guard)
    Skew.repartitionForPairCompute(pairs, col("id_a"))
      .join(sh.select(col("jid").as("id_a"), col("jsh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("jid").as("id_b"), col("jsh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 6))
      .drop("sh_a", "sh_b")
  }

  /** Cross-document repeated-span removal — the exact-substring dedup pass
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (2022), at token-n-gram granularity: any n-token span whose
    * corpus-wide occurrence count reaches `minCount` is removed from EVERY
    * document (overlapping frequent spans union their token positions),
    * and the surviving tokens are reassembled in order. This is the
    * frequency-driven sibling of [[graft.ops.TextAnalysis
    * .decontaminateParagraphs]] (which removes spans matching an EXTERNAL
    * benchmark set) and of [[paragraphDedup]] (which keeps first
    * occurrences of exact paragraphs): here the corpus's own repetition —
    * boilerplate, licenses, templated headers — is the removal signal.
    *
    * Returns (id, n_tokens, n_removed, clean_text).
    *
    * Scale shape: the span explode is map-only; ONE aggregation keyed on
    * the n-gram counts occurrences. `digestKeys = true` swaps
    * `xxhash64(gram)` in as the count/semi-join key exactly as
    * [[exactByDigest]] argues: the n-gram strings are ~n·wordlen bytes
    * and they are this operator's dominant shuffle byte mover at scale,
    * where the digest is 8 bytes with the accepted 2^-64 collision
    * envelope (a collision could mark one rare span frequent). The
    * default stays strings so DuckDB replays the frequent set
    * bit-for-bit — the two paths are pinned result-identical by spec
    * (same convention as exactByDigest); hit spans come back
    * through a gram-keyed semi-join of the SPAN frame (narrow id+pos
    * rows, never document text); covered positions aggregate per doc into
    * one int array; and the rebuild is a single id-keyed join of that
    * array against the tokenized corpus followed by a map-only
    * index-filter — document text rides exactly one exchange and is never
    * a shuffle key. The plan scans the corpus three times by design
    * (count pass, hit pass, rebuild pass): persisting the exploded span
    * frame to merge the first two would materialize ~n× the corpus bytes
    * (one n-token string per token position), while the explode it saves
    * is map-only codegen — the same recompute-beats-cache measurement
    * documented on [[minhashSignatures]]. */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minCount: Int = 2,
      digestKeys: Boolean = false): DataFrame = {
    val (tok, covered) = coveredSpanPositions(df, idCol, textCol, n,
      minCount, digestKeys)
    tok.join(covered, Seq("id"), "left")
      .select(col("id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("__rm")), lit(0)).cast("long").as("n_removed"),
        // native merge-walk splice (O(n + |rm|) per row); __rm is sorted
        // by construction — the TokenSplice precondition
        graft.functions.SpliceFunctions
          .token_splice(col("toks"), col("__rm")).as("clean_text"))
  }

  /** Loss-MASK variant of [[removeRepeatedSpans]] — same frequent-span
    * detection, but instead of deleting tokens it emits a per-token
    * keep mask ('1' = train, '0' = span-covered), serialized as a 0/1
    * string so it rides one narrow column. Deleting boilerplate changes
    * the token stream a model sees (splicing unrelated neighbors
    * together); modern pipelines often keep the text intact and ZERO THE
    * LOSS on the repeated tokens instead — this emits exactly that mask,
    * aligned to [[graft.ops.TextAnalysis.tokens]] positions. Same scale
    * shape as the remove path (shared detection stages); the mask
    * rebuild is one id-keyed join + a per-row transform. */
  def repeatedSpanMask(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minCount: Int = 2,
      digestKeys: Boolean = false): DataFrame = {
    val (tok, covered) = coveredSpanPositions(df, idCol, textCol, n,
      minCount, digestKeys)
    tok.join(covered, Seq("id"), "left")
      .select(col("id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("__rm")), lit(0)).cast("long").as("n_masked"),
        concat_ws("", transform(col("toks"), (_, i) =>
          when(coalesce(array_contains(col("__rm"), i), lit(false)),
            lit("0")).otherwise(lit("1")))).as("mask"))
  }

  /** Shared detection stages of [[removeRepeatedSpans]] /
    * [[repeatedSpanMask]]: returns (tok = (id, toks), covered = (id,
    * __rm sorted positions of frequent-span tokens)). */
  private def coveredSpanPositions(df: DataFrame, idCol: String,
      textCol: String, n: Int, minCount: Int,
      digestKeys: Boolean): (DataFrame, DataFrame) = {
    val tok = df.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    // (id, pos, gram) for every n-token window; docs under n tokens carry
    // no spans (deliberately NO whole-text fallback — a short doc's full
    // text is exact-dedup territory, not a span)
    val spans = tok.select(col("id"), posexplode(
        graft.functions.WordGramFunctions.word_grams(col("toks"), n))
        .as(Seq("pos", "gram")))
      // the key projection lands BEFORE either shuffle consumer, so in
      // digest mode the gram strings exist only inside map-side codegen
      .select(col("id"), col("pos"),
        (if (digestKeys) xxhash64(col("gram")) else col("gram"))
          .as("__gk"))
    val frequent = spans.groupBy(col("__gk"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= minCount)
      .select(col("__gk"))
    val hits = spans.join(frequent, Seq("__gk"), "left_semi")
    val covered = hits
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("rm"))
      .groupBy(col("id"))
      .agg(sort_array(collect_set(col("rm"))).as("__rm"))
    (tok, covered)
  }

  /** Variable-length exact-substring deduplication — the ExactSubstr
    * flavor of Lee et al. '22 ("Deduplicating Training Data Makes
    * Language Models Better"): any token span of length >= `minLen`
    * occurring more than once corpus-wide keeps exactly ONE canonical
    * occurrence; every other occurrence's tokens are removed and the
    * survivors spliced. Output contract matches [[removeRepeatedSpans]]
    * (id, n_tokens, n_removed, clean_text) — but the SEMANTICS differ
    * on purpose: [[removeRepeatedSpans]] is the fixed-n REMOVE-ALL
    * flavor (planted boilerplate dies everywhere), this is the KEEP-ONE
    * flavor for organic clones — press-release bodies, licence blocks,
    * syndicated articles — where one copy must survive training.
    *
    * Detection is anchor-window based, NEVER a suffix array on the
    * driver: a repeated span of length M >= minLen contains all of its
    * M - minLen + 1 length-minLen windows as repeated windows, and the
    * per-doc union of their position coverage reconstructs the maximal
    * span — so fixed-length windows + coverage merging finds repeated
    * spans of ANY length >= minLen (Lee et al.'s suffix-grouping
    * observation re-expressed relationally).
    *
    * Canonical protection (pinned, replayed by the oracle): for each
    * duplicated window the single smallest (id, pos) occurrence is
    * canonical; a position is removed iff some duplicated window covers
    * it AND no canonical window covers it. For a clean k-copy clone the
    * smallest-id copy survives whole and the other k-1 lose the full
    * span; partial/interleaved overlaps degrade safely — canonical-
    * protected positions always survive, so the corpus can never lose
    * ALL copies of a span (the failure mode of pointing
    * [[removeRepeatedSpans]] at organic duplication). Requires an id
    * with a total order (the min(struct(id, pos)) aggregate and the
    * oracle's ORDER BY must agree).
    *
    * Scale shape: windows explode to (id, pos, key) with the key
    * DIGESTED map-side under `digestKeys` (gram strings never ride a
    * shuffle — the [[removeRepeatedSpans]] convention); ONE key-keyed
    * aggregate yields count + canonical; duplicated occurrences return
    * via a left-semi join; coverage is two narrow (id, p) distincts and
    * one anti-join; the rebuild is the [[removeRepeatedSpans]] splice.
    * Constant shuffle count independent of corpus size. */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 50, digestKeys: Boolean = false): DataFrame = {
    val (tok, cov) = exactSubstrCoverage(df, idCol, textCol, minLen,
      digestKeys)
    val rm = cov.filter(!col("protected"))
      .groupBy(col("id"))
      .agg(sort_array(collect_set(col("p"))).as("__rm"))
    tok.join(rm, Seq("id"), "left")
      .select(col("id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("__rm")), lit(0)).cast("long").as("n_removed"),
        // native merge-walk splice (O(n + |rm|) per row); __rm is sorted
        // by construction — the TokenSplice precondition
        graft.functions.SpliceFunctions
          .token_splice(col("toks"), col("__rm")).as("clean_text"))
  }

  /** Span-evidence readout of [[exactSubstrDedup]]: every MAXIMAL run
    * of duplicated-window coverage per document — the variable-length
    * repeated spans themselves — with the verdict the dedup applies.
    * Columns: id, span_start (token position, 0-based), span_len
    * (>= minLen by construction — coverage is a union of length-minLen
    * windows), kept (true iff every position is canonical-protected,
    * i.e. this is the surviving copy), span_text. Spans are found by
    * gaps-and-islands over the per-doc covered positions (one id-keyed
    * window over narrow (id, p, protected) rows); span_text rebuilds
    * through a doc-keyed join against the token frame — document text
    * is never a shuffle key. */
  def exactSubstrSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 50, digestKeys: Boolean = false): DataFrame = {
    val (tok, cov) = exactSubstrCoverage(df, idCol, textCol, minLen,
      digestKeys)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("p"))
    val islands = cov
      .withColumn("__isl", col("p") - row_number().over(win))
      .groupBy(col("id"), col("__isl"))
      .agg(min(col("p")).cast("long").as("span_start"),
        count(lit(1)).as("span_len"),
        (min(when(col("protected"), lit(1)).otherwise(lit(0))) === 1)
          .as("kept"))
    islands.join(tok, Seq("id"))
      .select(col("id"), col("span_start"), col("span_len"), col("kept"),
        array_join(slice(col("toks"), col("span_start").cast("int") + 1,
          col("span_len").cast("int")), " ").as("span_text"))
  }

  /** Shared detection of [[exactSubstrDedup]] / [[exactSubstrSpans]]:
    * (tok = (id, toks), cov = (id, p, protected)) — every position
    * covered by a duplicated length-minLen window, with `protected`
    * marking canonical-window coverage. */
  private def exactSubstrCoverage(df: DataFrame, idCol: String,
      textCol: String, minLen: Int, digestKeys: Boolean)
      : (DataFrame, DataFrame) = {
    require(minLen >= 2, "need minLen >= 2")
    val tok = df.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    val spans = tok.select(col("id"), posexplode(
        graft.functions.WordGramFunctions.word_grams(col("toks"), minLen))
        .as(Seq("pos", "gram")))
      // key projection lands BEFORE both shuffle consumers, so in digest
      // mode the gram strings exist only inside map-side codegen
      .select(col("id"), col("pos"),
        (if (digestKeys) xxhash64(col("gram")) else col("gram"))
          .as("__gk"))
    // canonical selection is deliberately TWO aggregates: the count
    // aggregate runs over EVERY window (~180M rows at a 10M-doc
    // corpus) but carries only an 8-byte count — the standard
    // spillable hash-agg shape; the min(struct(id, pos)) argmin (the
    // r12 ICWS lesson's SortAggregate/agg-buffer trap) runs AFTER the
    // duplicate filter, over duplicated occurrences only —
    // corpus-small by definition. The single fused count+min spelling
    // carried the struct buffer for every unique gram and OOM'd the
    // aggregate at the 10M smoke point.
    val dupKeys = spans.groupBy(col("__gk"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2)
      .select(col("__gk"))
    val hits = spans.join(dupKeys, Seq("__gk"), "left_semi")
    val canon = hits.groupBy(col("__gk"))
      .agg(min(struct(col("id"), col("pos"))).as("__canon"))
    val covDup = hits.select(col("id"),
        explode(sequence(col("pos"), col("pos") + (minLen - 1))).as("p"))
      .distinct()
    val covCanon = canon.select(col("__canon.id").as("id"),
        explode(sequence(col("__canon.pos"),
          col("__canon.pos") + (minLen - 1))).as("p"))
      .distinct()
      .withColumn("__prot", lit(true))
    val cov = covDup.join(covCanon, Seq("id", "p"), "left")
      .select(col("id"), col("p"),
        coalesce(col("__prot"), lit(false)).as("protected"))
    (tok, cov)
  }

  /** Asymmetric n-gram containment for explicit pairs — the sub-document
    * inclusion detector symmetric Jaccard misses: a short document A
    * embedded whole in a long document B has C(A,B) = |sh(A) ∩ sh(B)| /
    * |sh(A)| ≈ 1 while J(A,B) ≈ |A|/|B| can sit far under any dedup
    * threshold, so a quote-heavy aggregator page survives MinHash dedup
    * while wholly containing other corpus documents. Emits both
    * directions plus the symmetric Jaccard so callers flag
    * containment-only matches (max containment high, Jaccard low).
    * Same scale shape as [[ngramJaccard]]: pair ids semi-join-prune the
    * corpus BEFORE shingling, and shingle sets ride two id-keyed joins —
    * candidates are orders of magnitude fewer than docs. */
  def ngramContainment(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val pairIds = pairs.select(col("id_a").as("jid"))
      .unionByName(pairs.select(col("id_b").as("jid"))).distinct()
    val sh = docs.join(pairIds, col(idCol) === col("jid"), "left_semi")
      .select(col(idCol).as("jid"),
        array_distinct(shingles(TextAnalysis.tokens(col(textCol)), n)).as("jsh"))
    // the per-pair shingle intersect/union is compute far heavier than
    // the candidate frame's bytes — pin the verify leg's parallelism
    // ([[Skew.repartitionForPairCompute]], the AQE-coalescing guard)
    Skew.repartitionForPairCompute(pairs, col("id_a"))
      .join(sh.select(col("jid").as("id_a"), col("jsh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("jid").as("id_b"), col("jsh").as("sh_b")), Seq("id_b"))
      .withColumn("__inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("containment_a", round(col("__inter") / size(col("sh_a")), 6))
      .withColumn("containment_b", round(col("__inter") / size(col("sh_b")), 6))
      .withColumn("jaccard",
        round(col("__inter") / size(array_union(col("sh_a"), col("sh_b"))), 6))
      .drop("sh_a", "sh_b", "__inter")
  }

  /** Dedup-detector evaluation — precision/recall/F1 of a candidate
    * pair set against ground-truth pairs, the QA yardstick for tuning
    * a detector's knobs (shingle size, bands/rows, df caps, thresholds)
    * before a production run — the dedup-side twin of
    * [[graft.ops.Similarity.recallAtK]]. Pairs are canonicalized
    * ((least, greatest), self-pairs dropped, duplicates collapsed) so
    * orientation and multiplicity conventions of the two inputs don't
    * skew the counts. Both inputs are candidate-pair frames — orders of
    * magnitude below corpus scale by construction (that's what
    * candidate generation is FOR) — so the semi-join and scalar
    * aggregates are trivially cheap. Output (one row): n_true, n_pred,
    * n_hit, precision, recall, f1 (6dp; zero-denominator cases pinned
    * to 0.0).
    *
    * Measured yardstick ([[graft.tools.DetectorEval]], sf0.01 near-dup
    * fixture, truth = exact 3-gram Jaccard >= 0.5, 81 true pairs):
    * minhash-LSH (x06 knobs) P=1.000 R=0.988 F1=0.994; simhash (x07,
    * maxHamming=6) P=0.306 R=0.593 F1=0.403; rare-ngram (x67 knobs)
    * P=0.063 R=1.000 F1=0.118 — the expected profile: rare-ngram is a
    * recall-first CANDIDATE generator whose output feeds exact
    * verification, simhash trades both for a single 64-bit signature,
    * minhash with verification is the precision path. */

  def pairMetrics(predicted: DataFrame, truth: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    def canon(df: DataFrame): DataFrame = df.select(
        least(col(aCol), col(bCol)).as("__pa"),
        greatest(col(aCol), col(bCol)).as("__pb"))
      .filter(col("__pa") =!= col("__pb"))
      .distinct()
    val p = canon(predicted)
    val t = canon(truth)
    val counts = t.agg(count(lit(1)).as("n_true"))
      .crossJoin(p.agg(count(lit(1)).as("n_pred")))
      .crossJoin(p.join(t, Seq("__pa", "__pb"), "left_semi")
        .agg(count(lit(1)).as("n_hit")))
    val prec = when(col("n_pred") === 0, lit(0.0))
      .otherwise(col("n_hit").cast("double") / col("n_pred"))
    val rec = when(col("n_true") === 0, lit(0.0))
      .otherwise(col("n_hit").cast("double") / col("n_true"))
    counts
      .withColumn("__p", prec).withColumn("__r", rec)
      .select(col("n_true"), col("n_pred"), col("n_hit"),
        round(col("__p"), 6).as("precision"),
        round(col("__r"), 6).as("recall"),
        round(when(col("__p") + col("__r") === 0, lit(0.0))
          .otherwise(lit(2.0) * col("__p") * col("__r") /
            (col("__p") + col("__r"))), 6).as("f1"))
  }

  /** Edit-distance near-duplicate pairs (FastSS / SymSpell deletion
    * neighborhoods — Bocek et al. '07): ALL pairs within Levenshtein
    * distance `maxDist`, found WITHOUT an all-pairs scan. Each string
    * emits its <= maxDist-deletion neighborhood (itself + every string
    * reachable by deleting up to maxDist characters); if ed(a,b) <= k
    * then deleting the differing positions from each side lands both on
    * a COMMON variant, so candidates = variant-key equi-join — the
    * pigeonhole is recall-COMPLETE, which is what lets an oracle check
    * this against the naive all-pairs formulation value-for-value. The
    * levenshtein verify then restores precision (sharing a variant only
    * bounds ed <= 2k).
    *
    * INTENDED FOR SHORT KEYS — titles, names, URLs, product codes
    * (the classic entity-resolution inputs): the neighborhood is
    * O(len^maxDist) variants per string, so document BODIES should go
    * through [[minhashLshPairs]] instead (token-level, length-
    * invariant). The variant generator is a `transform()` HOF — an
    * interpreted projection, acceptable here exactly because the
    * contract bounds string length; a corpus of million-char strings
    * would want the codegen'd-expression treatment first.
    *
    * Scale shape: candidates hash-partition on the variant STRING key
    * (short by contract); same-variant groups self-join — hot variants
    * (e.g. the empty string when maxDist >= len) are the skew to watch,
    * same class as LSH hot buckets. Verify is levenshtein on candidate
    * pairs only. Output: id_a < id_b, dist (<= maxDist). */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      "maxDist in {1, 2} (neighborhood size is len^maxDist)")
    val s = col(strCol)
    // all single-character deletions of c; the empty-string guard matters
    // because Spark's sequence(1, 0) is DESCENDING [1, 0], not empty
    def dels(c: Column): Column = when(length(c) === 0,
      array().cast("array<string>")).otherwise(transform(
      sequence(lit(1), length(c)),
      i => concat(c.substr(lit(1), i - 1),
        c.substr(i + 1, greatest(length(c) - i, lit(0))))))
    val d1 = array_distinct(concat(array(s), dels(s)))
    val variants =
      if (maxDist == 1) d1
      else array_distinct(concat(d1, flatten(transform(dels(s), v => dels(v)))))
    val keyed = df.select(col(idCol).as("__eid"), s.as("__es"),
        explode(variants).as("__v"))
      .distinct()
    // the same-variant self-join is the compute-bound pair stage here
    // (levenshtein on every candidate): pin its parallelism to the
    // variant key so AQE's byte-based coalescing can't serialize it
    val cands = Skew.repartitionForPairCompute(keyed.as("a"),
        col("a.__v"))
      .join(keyed.as("b"),
        col("a.__v") === col("b.__v") &&
          col("a.__eid") < col("b.__eid"))
      .select(col("a.__eid").as("id_a"), col("a.__es").as("sa"),
        col("b.__eid").as("id_b"), col("b.__es").as("sb"))
      .distinct()
    cands.withColumn("dist", levenshtein(col("sa"), col("sb")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
  }

  /** EXACT all-pairs token-set Jaccard join via prefix filtering
    * (Bayardo et al. 2007 "Scaling Up All Pairs Similarity Search";
    * the prefix principle PPJoin [Xiao et al. 2008] builds on): every
    * pair with Jaccard ≥ `threshold`, found WITHOUT an all-pairs scan
    * and WITHOUT the probabilistic misses of MinHash-LSH — the exact
    * complement of [[minhashLshPairs]] for workloads where a contract
    * forbids false negatives (compliance dedup, legal holds).
    *
    * The prefix principle: order each document's distinct tokens by
    * ascending global document frequency (rarest first, ties by token
    * string); if J(x,y) ≥ t then the overlap |x∩y| ≥ ⌈t·|x∪y|⌉ ≥
    * ⌈t·max(|x|,|y|)⌉ forces the two prefixes of length
    * |x| − ⌈t·|x|⌉ + 1 to share at least one token — so candidates =
    * one equi-join on prefix tokens, recall-COMPLETE by the theorem
    * (which is what lets the oracle be the naive all-pairs
    * formulation, the x142 discipline: equality proves both precision
    * and recall). The rarest-first ordering is what makes prefixes
    * selective — frequent boilerplate tokens land OUTSIDE prefixes and
    * never generate candidates. A length filter (t·max ≤ min) and the
    * PPJoin POSITIONAL filter (overlap ≤ 1 + min remaining suffix at
    * the generating occurrence — the inline theorem note) prune
    * size- and position-incompatible pairs inside the join, both
    * recall-complete. The exact Jaccard verify then restores
    * precision.
    *
    * Scale shape: token df is ONE (token)-keyed count; positions are a
    * doc-keyed window over narrow (id, token, df) rows (linear per
    * doc); the candidate join keys on prefix TOKENS — hot PREFIX
    * tokens are the skew to watch (same class as LSH hot buckets), and
    * the rarest-first prefix rule is the structural mitigation: a
    * token enters prefixes only when its carriers have nothing rarer.
    * That mitigation REQUIRES an open vocabulary (real text's long
    * tail; shingles even more so). A closed small vocabulary — every
    * token's df ≫ 1 — has no rarity signal, prefixes can't prune, and
    * the per-token candidate join goes quadratic: measured live in the
    * r12 [[graft.tools.DedupScaleSmoke]] phase, a 5k-word vocab over
    * 200k docs ran 15+ minutes where the 1M-word Zipf corpus of the
    * same size completes in seconds. `maxPrefixBucket` (> 0 to enable)
    * turns that silent wall into a loud one exactly like
    * [[semanticDedup]]'s `maxClusterSize`: one aggregate over the
    * narrow prefix rows, and the call REFUSES (naming the mitigation)
    * when any prefix token's membership exceeds the cap — exactness is
    * never silently traded.
    *
    * `maxCandidates` (> 0 to enable) guards the SECOND failure axis the
    * r13 1M smoke exposed: no single bucket hot (max 50), but the
    * AGGREGATE candidate volume Σ c·(c−1)/2 over prefix buckets grew
    * ~N² on a word-level corpus (15M pairs at 250k docs → 239M at 1M —
    * token df grows WITH the corpus at fixed vocabulary shape, so the
    * regime quietly leaves "rarer than the corpus size" as N grows)
    * and the verify join, which attaches both token arrays per
    * candidate, died in spill. The estimate costs one aggregate over
    * the bucket-count frame — the exact candidate count BEFORE any
    * join — and the refusal names the fix: shingle the text (w-gram
    * tokens keep df ~flat in N — the in-regime spelling at corpus
    * scale) or route to [[minhashLshPairs]]. The verify leg is
    * per-pair compute behind [[Skew.repartitionForPairCompute]].
    * Document text never rides a shuffle — token strings do (bounded
    * by the tokenizer), the [[sourceOverlap]] digest swap being the
    * upgrade path at crawl scale. Output: id_a < id_b, jaccard (6dp)
    * ≥ threshold. */
  def prefixFilterJaccardPairs(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double,
      maxPrefixBucket: Long = 0L, maxCandidates: Long = 0L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0, 1]: $threshold")
    val sets = docs.select(col(idCol).as("__pid"),
        array_distinct(TextAnalysis.tokens(col(textCol))).as("__set"))
      .filter(size(col("__set")) > 0)
      .withColumn("__n", size(col("__set")))
    val ex = sets.select(col("__pid"), col("__n"),
      explode(col("__set")).as("__tok"))
    val freq = ex.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    // epsilon-guarded ceil: t·n landing a hair ABOVE an exact integer
    // in binary must not lengthen the required overlap (a too-short
    // prefix breaks recall; the guard errs toward longer prefixes)
    val prefixLen = (col("__n") -
      ceil(lit(threshold) * col("__n") - lit(1e-9)) + 1).cast("int")
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("__df"), col("__tok"))
    val prefixes = ex.join(freq, Seq("__tok"))
      .withColumn("__pos", row_number().over(byRarity))
      .filter(col("__pos") <= prefixLen)
      .select(col("__pid"), col("__n"), col("__tok"), col("__pos"))
    if (maxPrefixBucket > 0 || maxCandidates > 0) {
      // one aggregate over the bucket-count frame gives BOTH guards:
      // the hottest bucket and the exact candidate count the join
      // would produce (Σ c·(c−1) summed exactly, halved on the driver)
      prefixes.groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
        .agg(max_by(struct(col("__tok"), col("__c")), col("__c"))
            .as("__top"),
          sum(col("__c") * (col("__c") - lit(1L))).as("__cand2"))
        .collect().headOption.filter(!_.isNullAt(0)).foreach { r =>
          val top = r.getStruct(0)
          val cand = r.getLong(1) / 2
          if (maxPrefixBucket > 0 && top.getLong(1) > maxPrefixBucket) {
            throw new IllegalArgumentException(
              s"requirement failed: prefixFilterJaccardPairs: prefix token " +
              s"'${top.getString(0)}' appears in ${top.getLong(1)} prefixes " +
              s"(maxPrefixBucket=$maxPrefixBucket); the candidate join is " +
              "quadratic per prefix token — this corpus has no rarity " +
              "signal (closed/small vocabulary). Raise the threshold, " +
              "shingle the text (opens the vocabulary), or use the " +
              "probabilistic minhashLshPairs path instead")
          }
          if (maxCandidates > 0 && cand > maxCandidates) {
            throw new IllegalArgumentException(
              s"requirement failed: prefixFilterJaccardPairs: the prefix " +
              s"join would generate $cand candidate pairs " +
              s"(maxCandidates=$maxCandidates) with no single hot bucket " +
              s"(max ${top.getLong(1)}) — token df is growing with the " +
              "corpus, so the open-vocabulary regime no longer holds at " +
              "this size. Shingle the text (w-gram tokens keep df flat " +
              "in N) or use the probabilistic minhashLshPairs path")
          }
        }
    }
    // PPJoin positional filter (Xiao et al. '08): at the pair's FIRST
    // common token in the canonical (df, token) order — positions
    // (i, j) — every earlier token of either side is absent from the
    // other, so overlap ≤ 1 + min(|x|−i, |y|−j); J ≥ t needs overlap
    // ≥ ⌈t/(1+t)·(|x|+|y|)⌉, so an occurrence-pair whose bound falls
    // short cannot be that first witness. Recall-complete: for a truly
    // similar pair the first-common-token occurrence always passes, and
    // keeping a pair on ANY passing occurrence therefore keeps every
    // true pair — while boilerplate-ish tokens sitting LATE in both
    // prefixes stop generating candidates (the measured cut that makes
    // the verify join's input smaller; same epsilon-guarded ceil
    // discipline as the prefix length)
    val alpha = ceil(lit(threshold / (1.0 + threshold)) *
      (col("__na") + col("__nb")) - lit(1e-9))
    val candPairs = prefixes.select(col("__pid").as("id_a"),
        col("__n").as("__na"), col("__tok"), col("__pos").as("__pa"))
      .join(prefixes.select(col("__pid").as("id_b"),
          col("__n").as("__nb"), col("__tok"), col("__pos").as("__pb")),
        Seq("__tok"))
      .filter(col("id_a") < col("id_b") &&
        least(col("__na"), col("__nb")).cast("double") >=
          lit(threshold) * greatest(col("__na"), col("__nb")) &&
        (lit(1) + least(col("__na") - col("__pa"),
          col("__nb") - col("__pb"))) >= alpha)
      .select(col("id_a"), col("id_b")).distinct()
    val verify = Skew.repartitionForPairCompute(candPairs, col("id_a"))
      .join(sets.select(col("__pid").as("id_a"), col("__set").as("__sa")),
        Seq("id_a"))
      .join(sets.select(col("__pid").as("id_b"), col("__set").as("__sb")),
        Seq("id_b"))
      .withColumn("jaccard",
        round(size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
          size(array_union(col("__sa"), col("__sb"))), 6))
      .filter(col("jaccard") >= threshold)
    verify.select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken '03
    * — the MOSS scheme; reference has no fingerprint/clone-detection
    * surface, extension op): hash every character k-gram, slide a
    * window over w consecutive gram hashes, keep each window's
    * RIGHTMOST MINIMUM. Guarantees: any exact match of length >=
    * k + w - 1 shares at least one fingerprint, and selections sit at
    * most w grams apart (expected density 2/(w+1)). Position-robust by
    * construction — a copied span keeps its fingerprints wherever it
    * lands in the copy, which is what "every i-th gram" sampling and
    * whole-doc digests both lose.
    *
    * PRODUCTION path: ONE map-only pass of the native
    * [[graft.functions.WinnowFingerprints]] expression (xxhash64,
    * per-row primitive loop) + explode — fingerprinting never
    * shuffles; downstream overlap detection shuffles only the narrow
    * (id, pos, fp) rows, never text. Output: id, pos, fp. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 4): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(graft.functions.WinnowFunctions
          .winnow_fingerprints(col(textCol), k, w)).as("__s"))
      .select(col("id"), col("__s.pos").as("pos"), col("__s.fp").as("fp"))

  /** [[winnowFingerprints]] on the PORTABLE md5 family — the
    * oracle-checkable surface (the [[minhashLshPairsPortable]]
    * convention: md5 because it is the one hash both engines spell
    * identically). Same selection rule via different machinery: grams
    * explode to narrow (id, pos, h60) rows, rightmost-min is
    * `min(struct(h, 1048575 - pos))` over ONE doc-keyed window of the
    * next w rows (struct ordering: h ascending, then LARGEST pos —
    * rightmost — on hash ties), window starts filtered to the
    * canonical range (pos <= m - w; short docs keep only the one
    * truncated pos-0 window). The DuckDB oracle replays the identical
    * selection with list_min over a HUGEINT encoding h*2^20 +
    * (2^20-1-pos) — same total order, engine-native spelling.
    * Positions must stay below 2^20 for that encoding; fixture-scale
    * by design (production = [[winnowFingerprints]]). The two paths
    * are pinned by spec to detect the same planted copied spans. */
  def winnowFingerprintsPortable(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 16, w: Int = 4): DataFrame =
    // One native per-row pass ([[graft.functions.Md5WinnowFingerprints]])
    // — map-only like the production path, no shuffle. The replaced
    // column spelling exploded one row per gram (a ~(len-k)x frame
    // inflation), paid an interpreted md5(substr(cast))+conv chain per
    // gram, a doc-keyed Exchange+Sort for the rowsBetween(0, w-1)
    // window, and a distinct() aggregate pair; the native selection is
    // pinned bit-equal to it by WinnowSpec (grams, window range,
    // rightmost-min tie rule, consecutive-dup suppression ==
    // distinct()), and the DuckDB oracles for x161/x166/x169 replay the
    // same md5-h60 selection unchanged. Measured r16 (sf0.1, vs the
    // certified round-open band): x166 (two fingerprint sides)
    // 4.22 -> 0.84s, x169 (per-micro-batch fingerprinting via
    // winnowScreenSink) 8.20 -> ~5s, x161 unchanged (overlap join
    // dominates it); plan: the Exchange+Sort+Window+distinct chain per
    // fingerprint side collapses to a map-only Project+Generate.
    docs.select(col(idCol).as("id"),
        explode(graft.functions.WinnowFunctions
          .md5_winnow_fingerprints(col(textCol), k, w)).as("__s"))
      .select(col("id"), col("__s.pos").as("pos"), col("__s.fp").as("fp"))

  /** Fingerprint-overlap pairs from a winnow frame (id, pos, fp):
    * documents sharing `minShared`+ distinct fingerprints, scored by
    * overlap = shared / min(|fps_a|, |fps_b|) (containment-style, so a
    * short doc copied into a long one still scores high). `maxDf`
    * drops fingerprints carried by more than maxDf documents BEFORE
    * the self-join — simultaneously the hot-key guard (a fingerprint
    * every doc carries would join quadratically, the LSH hot-bucket
    * class) and a precision rule: an over-common fingerprint is
    * boilerplate, not copying signal (MOSS drops them for the same
    * reason).
    *
    * Scale shape: one distinct aggregate, then ONE fp-keyed
    * shuffle+sort (a count window attaches df in place — no join of
    * the full fingerprint frame against the rare-fp set) whose
    * partitioning the per-fp grouping REUSES: surviving ids collect
    * into a ≤ maxDf array (the buffer is bounded BECAUSE the hot-fp
    * rows were dropped before the aggregate — a groupBy-then-filter
    * spelling would buffer a boilerplate fingerprint's entire
    * document list) and pairs explode inline, ≤ maxDf² per
    * fingerprint. The previous self-join spelling (df-count join +
    * fp self-join) moved the corpus-sized fingerprint frame through
    * THREE sorted exchanges and went super-linear under spill at a
    * 1M-doc smoke (65s at 250k → 387s at 1M, 5.9× for 4×); this one
    * exchanges it once (measured 43s at 250k → 181s at 1M, 4.2× —
    * linear; BASELINE.md r13). Text never rides any shuffle. Output:
    * id_a < id_b, shared, overlap (6dp). */
  def winnowOverlapPairs(fps: DataFrame, maxDf: Int = 64,
      minShared: Int = 3): DataFrame = {
    require(maxDf > 0, "maxDf must be positive")
    require(minShared > 0, "minShared must be positive")
    // dual-consumer materialization (the bucketCandidates convention):
    // the distinct frame feeds the bucketing and the per-doc sizes —
    // without it the explode+distinct upstream re-runs per consumer
    val distinctFps = Caching.scoped(
      fps.select(col("id"), col("fp")).distinct())
    distinctFps.count()
    val win = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val rare = distinctFps
      .withColumn("__df", count(lit(1)).over(win))
      .filter(col("__df") <= maxDf)
    val perDoc = distinctFps.groupBy(col("id")).agg(count(lit(1)).as("__n"))
    rare.groupBy(col("fp"))
      .agg(collect_list(col("id")).as("__ids"))
      .filter(size(col("__ids")) >= 2)
      .select(explode(col("__ids")).as("id_a"), col("__ids"))
      .select(col("id_a"), explode(col("__ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(perDoc.select(col("id").as("id_a"), col("__n").as("__na")),
        Seq("id_a"))
      .join(perDoc.select(col("id").as("id_b"), col("__n").as("__nb")),
        Seq("id_b"))
      .withColumn("overlap", round(col("shared").cast("double") /
        least(col("__na"), col("__nb")), 6))
      .select(col("id_a"), col("id_b"), col("shared"), col("overlap"))
  }

  /** ICWS weighted-minhash buckets (Ioffe '10, Consistent Weighted
    * Sampling): per document and sample index j, draw one (dimension,
    * tier) key such that two documents pick the SAME key with
    * probability exactly their WEIGHTED Jaccard Σ min(w_a, w_b) /
    * Σ max(w_a, w_b) — the TF-aware similarity that unweighted
    * minhash (set semantics) cannot see: a doc that repeats one token
    * 50× is very different from one mentioning it once, and identical
    * bags under reordering are identical exactly.
    *
    * Per (dimension d, sample j): r, c ~ Gamma(2,1) (= −ln(u·u')),
    * β ~ U(0,1), all seeded from (d, j) ONLY — sharing a dimension
    * means sharing its draws, which is what makes collisions measure
    * similarity; then t = ⌊ln(w)/r + β⌋, ln a = ln c − r(t − β) − r,
    * and the document's j-th key is the (d, t) minimizing ln a.
    * Determinism: ln a and the t argument are 6dp-rounded before the
    * floor/argmin (the x131 round-before-transcendental-consumer
    * playbook) and the argmin tie-breaks (ln a, d, t), so the whole
    * draw replays cross-engine from the md5 formulas alone
    * (`hashed = false`, the oracle surface). `hashed = true` swaps the
    * five md5 uniforms for xxhash64 ones — no hex-string digesting,
    * the production family, same recovery contract by spec.
    *
    * Scale shape: one exploded (rows × k) PROJECTION computes every
    * uniform/Gamma/tier value exactly once as a named column, then ONE
    * (id, j)-keyed min aggregate over a single DECIMAL(38,0) ENCODING
    * of the argmin key: enc = (round(ln a · 10⁶) + 10⁹) · 10¹⁸ +
    * (h60(d) mod 10¹⁸) — minimizing enc minimizes (ln a on the 6dp
    * grid, then reduced dimension hash); the mod keeps the hash inside
    * its slot so the order is genuinely lexicographic. Two spellings were measured SLOWER at a 205k-doc
    * smoke before this one: the whole draw inside k min-STRUCT
    * aggregate columns (360s), and the exploded projection feeding
    * min(struct(ln a, d, t)) (387s) — min over a struct plans
    * SortAggregate, i.e. a full sort of the exploded rows; the decimal
    * min hash-aggregates in whole-stage codegen with map-side partials
    * (9s — 40× on identical semantics). The encoding is also the
    * BUCKET: equal enc ⟺ same 6dp ln a and same dimension hash ⟺ the
    * same (d, t) draw (ln a is strictly decreasing in t for one d).
    * |ln a| < 1000 holds for any weight below e⁸⁵⁰ — the 10⁹ offset
    * never saturates. Input rows with non-positive weight are refused
    * (ln).
    *
    * `rowsPerBand` > 1 ANDs r consecutive samples into one band bucket
    * (collision probability J_w^r per band — the classic LSH
    * amplification): at a 205k-doc smoke, single-sample collisions on
    * a Zipf corpus flooded the verify leg with 6.5M candidates for
    * 5k true pairs (popular low-weight tokens win argmins across
    * unrelated docs at rate ≈ J_w ~ 1/|doc|, and the verify is the
    * whole cost at 147s); r = 2 squares the noise rate while planted
    * near-dups at J_w ≥ 0.6 stay near-certain across k/r bands. r = 1
    * (default) keeps one-sample buckets — the oracle surface. Output:
    * (id, band, bucket). */
  def icwsBuckets(weighted: DataFrame, idCol: String, dimCol: String,
      weightCol: String, k: Int = 8, hashed: Boolean = false,
      rowsPerBand: Int = 1): DataFrame = {
    require(k >= 1 && k <= 64, "k in 1..64")
    require(rowsPerBand >= 1 && k % rowsPerBand == 0,
      "rowsPerBand must divide k")
    def u(i: Int): Column =
      (pmod(xxhash64(lit("icws"), col("__d"), col("j"), lit(i)),
        lit(4503599627370496L)).cast("double") + lit(0.5)) /
        lit(4503599627370496.0) // 2^52, half-step clamp: u in (0, 1)
    // the dimension hash must fit the 1e18 decimal slot EXACTLY or
    // large hashes bleed into the adjacent ln-a grid slot (2^60 =
    // 1.15e18 > 1e18 — ~13% of raw h60 values would), breaking the
    // documented lexicographic (ln a, d) argmin order — so both
    // families reduce mod 1e18 (the oracle replays the same mod)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = weighted
      .filter(col(weightCol).cast("double") > 0.0)
      .select(col(idCol).as("id"), col(dimCol).cast("string").as("__d"),
        col(weightCol).cast("double").as("__w"))
    // per-family (id, __w, j, __r, __c, __beta, __hd) draw frame. The
    // xxhash64 production family stays a pure codegen'd column chain;
    // the md5 oracle family rides graft.functions.Md5IcwsDraws — one
    // native pass per input row for the dimension hash and all k x 5
    // uniforms (the replaced conv(substring(md5(..)))-per-(row, j, i)
    // chain was six interpreted hex-string digest parses per exploded
    // row; bit-equal by the expression's contract, pinned by
    // IcwsSpec). The Gamma assembly, 6dp rounds, floor, and the
    // decimal argmin encoding are SHARED columns below — the replay
    // semantics the oracle pins live there, untouched by the family
    // split.
    val withDraws =
      if (hashed)
        base
          .withColumn("j", explode(array((0 until k).map(i => lit(i)): _*)))
          .withColumn("__r", -(log(u(1)) + log(u(2))))
          .withColumn("__c", -(log(u(3)) + log(u(4))))
          .withColumn("__beta", u(5))
          .withColumn("__hd", pmod(xxhash64(lit("icwsd"), col("__d")),
            lit(1000000000000000000L))) // uniform in [0, 1e18)
      else
        base
          .withColumn("__dr",
            graft.functions.IcwsFunctions.md5_icws_draws(col("__d"), k))
          .select(col("id"), col("__w"), col("__dr")("hd").as("__hd"),
            posexplode(col("__dr")("us")).as(Seq("j", "__u")))
          .withColumn("__r",
            -(log(col("__u")("u1")) + log(col("__u")("u2"))))
          .withColumn("__c",
            -(log(col("__u")("u3")) + log(col("__u")("u4"))))
          .withColumn("__beta", col("__u")("u5"))
    val drawn = withDraws
      .withColumn("__t",
        floor(round(log(col("__w")) / col("__r") + col("__beta"), 6)))
      .withColumn("__enc",
        (round((log(col("__c")) - col("__r") * (col("__t") - col("__beta"))
          - col("__r")) * 1e6).cast("long") + lit(1000000000L)).cast(dec) *
          lit(1000000000000000000L) + col("__hd").cast(dec))
    val perSample = drawn.groupBy(col("id"), col("j"))
      .agg(min(col("__enc")).as("__m"))
    if (rowsPerBand == 1)
      perSample.select(col("id"), col("j").as("band"),
        col("__m").cast("string").as("bucket"))
    else
      perSample
        .groupBy(col("id"), (col("j") / rowsPerBand).cast("int").as("band"))
        .agg(concat_ws("|", transform(
          sort_array(collect_list(struct(col("j"),
            col("__m").cast("string").as("e")))),
          x => x.getField("e"))).as("bucket"))
  }

  /** Weighted-Jaccard near-duplicate pairs: [[icwsBuckets]] collisions
    * as candidates (any of the k samples agreeing — the LSH leg:
    * recall is probabilistic at 1 − (1 − J_w)^k, precision restored by
    * the exact verify), then the EXACT weighted Jaccard on candidate
    * pairs via a full-outer per-dimension join (integer min/max sums —
    * engine-exact, 6dp output). The minhashLshPairs structure with
    * bag semantics. Scale shape: candidates through the shared
    * [[bucketCandidates]] (hot-bucket star-anchor guard, narrow rows);
    * verify joins only candidate-pair dimension rows behind
    * [[Skew.repartitionForPairCompute]]. Output: id_a < id_b,
    * wjaccard >= threshold.
    *
    * Weight contract: weights must be INTEGER-VALUED (term
    * frequencies — the bag-semantics use case). The exact verify sums
    * long min/max per dimension; a fractional weight would truncate
    * there (a TF-IDF weight < 1 → 0, an all-sub-1 pair silently
    * dropped) while [[icwsBuckets]] draws on the true double — so
    * non-integer weights are REFUSED per-row with `raise_error` rather
    * than silently disagreeing between candidate and verify legs.
    * Fractional-weight callers should pre-scale to a fixed-point
    * integer grid (e.g. round(w·10⁶)): weighted Jaccard is
    * scale-invariant, so any uniform grid preserves the answer. */
  def weightedJaccardPairs(weighted: DataFrame, idCol: String,
      dimCol: String, weightCol: String, k: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Int = 256,
      hashed: Boolean = false, rowsPerBand: Int = 1): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0, 1]: $threshold")
    // buckets persist: [[bucketCandidates]]' deliberate no-persist note
    // is calibrated for the CHEAP minhash subtree — it references the
    // frame from ~8 branches (sizing join, both pair sides, both star
    // legs), and re-running the ICWS draw (5 uniforms + 4 ln per
    // exploded row) per branch measured 414s at a 205k-doc smoke vs 9s
    // materialized once
    val buckets = icwsBuckets(weighted, idCol, dimCol, weightCol, k,
      hashed, rowsPerBand).persist()
    buckets.count()
    // candidate-pair persist: the frame feeds both verify join legs
    // (the minhashLshPairs materialization note)
    val cand = Caching.scoped(bucketCandidates(buckets, maxBucketSize))
    cand.count()
    buckets.unpersist()
    val wD = col(weightCol).cast("double")
    val tf = weighted.select(col(idCol).as("__tid"),
      col(dimCol).cast("string").as("__d"),
      // integer-weight contract (scaladoc): the long verify grid would
      // silently truncate fractional weights the bucketing leg saw in
      // full — refuse loudly instead
      when(wD === floor(wD), wD.cast("long")).otherwise(raise_error(
        concat(lit("weightedJaccardPairs: non-integer weight (pre-scale "
          + "to a fixed-point grid): "), wD.cast("string")))).as("__w"))
    val pairs = Skew.repartitionForPairCompute(cand, col("id_a"))
    val wa = pairs.join(tf.select(col("__tid").as("id_a"), col("__d"),
      col("__w").as("__wa")), Seq("id_a"))
    val wb = pairs.join(tf.select(col("__tid").as("id_b"), col("__d"),
      col("__w").as("__wb")), Seq("id_b"))
    wa.join(wb, Seq("id_a", "id_b", "__d"), "full")
      .na.fill(0L, Seq("__wa", "__wb"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(least(col("__wa"), col("__wb"))).as("__mn"),
        sum(greatest(col("__wa"), col("__wb"))).as("__mx"))
      .withColumn("wjaccard",
        round(col("__mn").cast("double") / col("__mx"), 6))
      .filter(col("wjaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("wjaccard"))
  }

  /** Winnow-fingerprint decontamination — the span-evidence member of
    * the decontamination family: where the Bloom screen answers "does
    * this doc contain a benchmark n-gram" (one-sided, no location) and
    * exact/paragraph decontam needs exact or paragraph-aligned matches,
    * this flags corpus documents sharing `minShared`+ winnow
    * fingerprints with a benchmark document AND reports WHERE
    * (span_start/span_end = the matched-fingerprint extent in the
    * corpus doc — the audit trail a removal decision wants), robust to
    * the benchmark text landing anywhere in the document (winnowing's
    * position independence, [[winnowFingerprints]]).
    *
    * Scale shape: both sides fingerprint map-only; the benchmark side
    * is small by contract (eval suites, not corpora) and BROADCASTS, so
    * the corpus never shuffles for the join — the only exchange is the
    * (doc, bench)-keyed aggregate on narrow matched rows. Output:
    * corpus id, bench id, shared (distinct shared fingerprints),
    * span_start, span_end. */
  def winnowContamination(corpus: DataFrame, corpusIdCol: String,
      corpusTextCol: String, bench: DataFrame, benchIdCol: String,
      benchTextCol: String, k: Int = 16, w: Int = 4,
      minShared: Int = 3): DataFrame =
    contaminationFromFps(
      winnowFingerprints(corpus, corpusIdCol, corpusTextCol, k, w),
      winnowFingerprints(bench, benchIdCol, benchTextCol, k, w),
      corpusIdCol, benchIdCol, minShared)

  /** [[winnowContamination]] on the PORTABLE md5 family — the
    * oracle-checkable surface (the [[winnowFingerprintsPortable]]
    * convention); pinned by spec to flag the same planted
    * contamination as the native path. */
  def winnowContaminationPortable(corpus: DataFrame, corpusIdCol: String,
      corpusTextCol: String, bench: DataFrame, benchIdCol: String,
      benchTextCol: String, k: Int = 16, w: Int = 4,
      minShared: Int = 3): DataFrame =
    contaminationFromFps(
      winnowFingerprintsPortable(corpus, corpusIdCol, corpusTextCol, k, w),
      winnowFingerprintsPortable(bench, benchIdCol, benchTextCol, k, w),
      corpusIdCol, benchIdCol, minShared)

  private[graft] def contaminationFromFps(cfp: DataFrame, bfp: DataFrame,
      outIdA: String, outIdB: String, minShared: Int): DataFrame = {
    require(minShared > 0, "minShared must be positive")
    val b = broadcast(bfp.select(col("id").as("__bid"), col("fp")).distinct())
    cfp.join(b, Seq("fp"))
      .groupBy(col("id"), col("__bid"))
      .agg(countDistinct(col("fp")).as("shared"),
        min(col("pos")).as("span_start"), max(col("pos")).as("span_end"))
      .filter(col("shared") >= minShared)
      .select(col("id").as(outIdA), col("__bid").as(outIdB),
        col("shared"), col("span_start"), col("span_end"))
  }

  /** One comparison field for [[linkRecords]]: agreement contributes
    * `agreeW` to the match score, disagreement `disagreeW` (the
    * Fellegi–Sunter log-likelihood-ratio weights — callers estimate them
    * from labeled pairs or set them by judgment; the operator treats
    * them as config, like [[graft.ops.TextAnalysis.languageId]]'s
    * profiles). `maxDist` 0 = exact equality; > 0 = Levenshtein
    * tolerance (string fields only). */
  final case class LinkField(name: String, agreeW: Double,
    disagreeW: Double, maxDist: Int = 0)

  /** Probabilistic record linkage (Fellegi & Sunter '69) between two
    * tables — the entity-resolution step upstream of any customer /
    * account / counterparty merge: candidate pairs from EXACT blocking
    * on a caller-computed key, per-field agreement (exact or
    * edit-distance-tolerant), a summed log-weight score, and the
    * classic three-way classification (`match` ≥ upper, `possible` ≥
    * lower, below = dropped — review queues read the middle tier).
    *
    * Scale shape: candidates = one hash equi-join on the block key
    * (never all-pairs; block sizes are the skew knob, same class as
    * LSH buckets — pick keys whose hottest block stays task-sized);
    * everything downstream is per-pair column arithmetic. The score
    * sums FIXED literal weights left-to-right, so it replays exactly
    * cross-engine. Output: id_a, id_b, one `agree_<field>` flag per
    * field, score (6dp), tier. */
  def linkRecords(a: DataFrame, b: DataFrame, idCol: String,
      blockCol: String, fields: Seq[LinkField], upper: Double,
      lower: Double): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    require(upper >= lower, "upper threshold below lower")
    def side(df: DataFrame, tag: String, outId: String): DataFrame =
      df.select((col(idCol).as(outId) +: col(blockCol).as("__blk") +:
        fields.map(f => col(f.name).as(s"__${tag}_${f.name}"))): _*)
    // parallelism must follow BLOCKS, not bytes: the comparison work is
    // per-pair (block sizes squared) — see
    // [[Skew.repartitionForPairCompute]] for the AQE-coalescing story
    val cand = Skew.repartitionForPairCompute(
        side(a, "a", "id_a"), col("__blk"))
      .join(side(b, "b", "id_b"), "__blk")
    val withAgrees = fields.foldLeft(cand) { (d, f) =>
      val fa = col(s"__a_${f.name}"); val fb = col(s"__b_${f.name}")
      val agree = if (f.maxDist == 0) fa === fb
        else levenshtein(fa, fb) <= f.maxDist
      d.withColumn(s"agree_${f.name}", agree)
    }
    val score = fields.map(f =>
      when(col(s"agree_${f.name}"), lit(f.agreeW))
        .otherwise(lit(f.disagreeW))).reduce(_ + _)
    withAgrees
      .withColumn("score", round(score, 6))
      .withColumn("tier", when(col("score") >= upper, lit("match"))
        .when(col("score") >= lower, lit("possible")))
      .filter(col("tier").isNotNull)
      .select((col("id_a") +: col("id_b") +:
        fields.map(f => col(s"agree_${f.name}")) :+
        col("score") :+ col("tier")): _*)
  }

  /** Minimal open-addressing long->long map for the driver union-find:
    * primitive arrays (no boxing), splitmix64-dispersed linear probing,
    * power-of-two capacity grown at 50% load. At the 1M-edge cap this is
    * tens of MB of driver heap where boxed java.lang.Long HashMap entries
    * would be several hundred. */
  private[ops] final class LongLongMap(expected: Int,
      maxCap: Int = 1 << 30) {
    private var cap: Int = {
      // expected*2 as Long: an Int product overflows (goes negative) past
      // 2^30 entries and would silently pin the initial cap at 64
      val want = math.min(expected.toLong * 2, maxCap.toLong)
      var c = 64
      while (c < want) c <<= 1
      c
    }
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var occ = new Array[Boolean](cap)
    private var n = 0

    def size: Int = n

    private def idx(k: Long): Int = {
      var h = k // splitmix64 finalizer: disperses sequential doc ids
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
      h ^= h >>> 33
      var i = (h & mask).toInt
      while (occ(i) && keys(i) != k) i = (i + 1) & mask
      i
    }

    def contains(k: Long): Boolean = occ(idx(k))

    /** Key must be present (the union-find always inserts before reads). */
    def get(k: Long): Long = vals(idx(k))

    def put(k: Long, v: Long): Unit = {
      val i = idx(k)
      if (!occ(i)) {
        occ(i) = true; keys(i) = k; vals(i) = v; n += 1
        if (n * 2 > cap) grow()
      } else vals(i) = v
    }

    private def grow(): Unit = {
      // cap <<= 1 at 1<<30 wraps negative (NegativeArraySizeException
      // deep in the resize) — reachable only if a caller raises
      // resolveClusters' localEdgeLimit past ~5e8 edges. Refuse with an
      // actionable message instead.
      if (cap >= maxCap)
        throw new IllegalStateException(
          s"LongLongMap at capacity ($n entries, cap $cap): the driver " +
          "union-find is bounded at maxCap/2 entries — lower " +
          "localEdgeLimit so resolveClusters routes this edge set through " +
          "the distributed pointer-jumping path instead")
      val ok = keys; val ov = vals; val oo = occ
      cap <<= 1; mask = cap - 1; n = 0
      keys = new Array[Long](cap)
      vals = new Array[Long](cap)
      occ = new Array[Boolean](cap)
      var i = 0
      while (i < ok.length) {
        if (oo(i)) put(ok(i), ov(i))
        i += 1
      }
    }

    def foreachKey(f: Long => Unit): Unit = {
      var i = 0
      while (i < cap) { if (occ(i)) f(keys(i)); i += 1 }
    }
  }
}
