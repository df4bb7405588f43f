package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextAnalysis}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog again and again"),       // near dup of 1
    (4L, "completely different content about spark query engines at scale now")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts multiplicity") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == 2L && out(3L) == 1L && out(4L) == 1L)
    assert(!out.contains(2L))
  }

  test("exactByPriority elects the highest-priority copy, min id on ties") {
    val rows = Seq(
      (1L, "shared text", 1), (2L, "shared text", 5), (3L, "shared text", 5),
      (10L, "lone", 2)).toDF("doc_id", "text", "priority")
    val out = Dedup.exactByPriority(rows, "text", "doc_id", "priority")
      .as[(Long, Int, Long)].collect().toSet
    // group of 3: priority 5 beats the min id 1; ids 2 vs 3 tie on
    // priority -> min id 2 survives. Singletons keep themselves.
    assert(out == Set((2L, 5, 3L), (10L, 2, 1L)))
    // the election needs only an ORDERING on ids: string/digest ids work
    // (a negate-the-id tie-break would have rejected them), and null-id
    // rows are excluded rather than electable as null survivors
    val strRows = Seq(
      (Option("b"), "shared text", 1), (Option("a"), "shared text", 1),
      (Option.empty[String], "shared text", 9))
      .toDF("doc_id", "text", "priority")
    assert(Dedup.exactByPriority(strRows, "text", "doc_id", "priority")
      .as[(String, Int, Long)].collect().toSeq == Seq(("a", 1, 2L)))
  }

  test("exactByPriority: MinValue priorities rank lowest and NULL priorities never win") {
    // negate(Long.MinValue) has no integral representation — a bare
    // negation wraps it to the TOP of the ordering; the double-cast
    // election key must keep it at the bottom
    val extremes = Seq(
      (1L, "t", Long.MinValue), (2L, "t", 0L), (3L, "t", Long.MinValue))
      .toDF("doc_id", "text", "priority")
    assert(Dedup.exactByPriority(extremes, "text", "doc_id", "priority")
      .as[(Long, Long, Long)].collect().toSeq == Seq((2L, 0L, 3L)))
    // a NULL priority still counts in dup_count but loses every election
    // against a ranked copy (unguarded, null sorts FIRST in the struct
    // ordering and would win); an all-null group keeps the min id
    val withNull = Seq(
      (5L, "t", Option.empty[Int]), (2L, "t", Option(3)),
      (9L, "u", Option.empty[Int]), (8L, "u", Option.empty[Int]))
      .toDF("doc_id", "text", "priority")
    val out = Dedup.exactByPriority(withNull, "text", "doc_id", "priority")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)), r.getLong(2))).toSet
    assert(out == Set((2L, Some(3), 2L), (8L, None, 2L)))
  }

  test("removeRepeatedSpans removes corpus-frequent spans, unions overlaps, spares short docs") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta xx yy"),      // frequent span at pos 0
      (2L, "p q alpha beta gamma delta"),        // frequent span mid-doc
      (3L, "alpha beta gamma r s t"),
      (4L, "nothing shared here at all"),        // untouched
      (5L, "tiny doc"),                          // < n tokens: no spans
      (6L, "alpha beta gamma alpha beta gamma")  // two occurrences: whole doc covered
    ).toDF("doc_id", "text")
    // "alpha beta gamma" occurs 5x (docs 1,2,3 + 2x in doc 6) >= 3;
    // "beta gamma delta" occurs only 2x (docs 1,2) and stays
    val out = Dedup.removeRepeatedSpans(corpus, "doc_id", "text",
        n = 3, minCount = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((6L, 3L, "delta xx yy")))
    assert(out(2L) == ((6L, 3L, "p q delta")))
    assert(out(3L) == ((6L, 3L, "r s t")))
    assert(out(4L) == ((5L, 0L, "nothing shared here at all")))
    assert(out(5L) == ((2L, 0L, "tiny doc")))
    // overlapping within-doc occurrences union their positions: the
    // second occurrence's span [3,5] overlaps nothing but both cover all 6
    assert(out(6L) == ((6L, 6L, "")))
  }

  test("removeRepeatedSpans digest-key path agrees with the string-key path") {
    // digestKeys=true is the 100 TB shape (8-byte xxhash64 shuffle keys
    // instead of ~n*wordlen gram strings); pin it result-identical to
    // the oracle-checked string path, same convention as exactByDigest
    val planted = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", concat($"text",
        when($"doc_id" % 4 === 0, lit(" b0 b1 b2 b3 b4 b5 b6 b7"))
          .otherwise(lit(""))).as("text"))
    def run(dig: Boolean) = Dedup.removeRepeatedSpans(planted, "doc_id",
        "text", n = 5, minCount = 3, digestKeys = dig)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(run(dig = true) == run(dig = false))
  }

  test("exactSubstrDedup: variable-length clones keep exactly one canonical copy") {
    val corpus = Seq(
      // docs 1/2 share a 5-token span (> minLen): doc 1 is canonical
      // (smallest id) and keeps it whole; doc 2 loses all 5 tokens
      (1L, "a1 a2 a3 a4 a5 u1 u2"),
      (2L, "v1 a1 a2 a3 a4 a5"),
      // docs 3/4 share exactly minLen tokens
      (3L, "b1 b2 b3 z1"),
      (4L, "z2 z3 b1 b2 b3"),
      (5L, "c1 c2 c3 c4"),      // shares nothing — untouched
      (6L, "a1 a2")             // < minLen tokens: cannot anchor
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrDedup(corpus, "doc_id", "text", minLen = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((7L, 0L, "a1 a2 a3 a4 a5 u1 u2")))
    assert(out(2L) == ((6L, 5L, "v1")))
    assert(out(3L) == ((4L, 0L, "b1 b2 b3 z1")))
    assert(out(4L) == ((5L, 3L, "z2 z3")))
    assert(out(5L) == ((4L, 0L, "c1 c2 c3 c4")))
    assert(out(6L) == ((2L, 0L, "a1 a2")))
  }

  test("exactSubstrDedup: interleaved partial overlaps never destroy all copies") {
    // A carries spans x+y, B carries y+z, C carries z: canonical
    // protection must resolve PER POSITION — y survives in A, z in B,
    // and no span loses every copy (the removeRepeatedSpans failure
    // mode this operator exists to avoid)
    val corpus = Seq(
      (1L, "x1 x2 x3 y1 y2 y3"),
      (2L, "y1 y2 y3 z1 z2 z3"),
      (3L, "z1 z2 z3 w1")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrDedup(corpus, "doc_id", "text", minLen = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((6L, 0L, "x1 x2 x3 y1 y2 y3")))
    assert(out(2L) == ((6L, 3L, "z1 z2 z3")))
    assert(out(3L) == ((4L, 3L, "w1")))
  }

  test("exactSubstrSpans: maximal spans carry kept verdicts; digest paths identical") {
    val corpus = Seq(
      (1L, "a1 a2 a3 a4 a5 u1 u2"),
      (2L, "v1 a1 a2 a3 a4 a5"),
      (3L, "b1 b2 b3 z1"),
      (4L, "z2 z3 b1 b2 b3"),
      (5L, "c1 c2 c3 c4")
    ).toDF("doc_id", "text")
    val spans = Dedup.exactSubstrSpans(corpus, "doc_id", "text", minLen = 3)
      .as[(Long, Long, Long, Boolean, String)].collect().toSet
    // every clone span appears twice with identical text: once kept
    // (the canonical copy), once not
    assert(spans == Set(
      (1L, 0L, 5L, true, "a1 a2 a3 a4 a5"),
      (2L, 1L, 5L, false, "a1 a2 a3 a4 a5"),
      (3L, 0L, 3L, true, "b1 b2 b3"),
      (4L, 2L, 3L, false, "b1 b2 b3")))
    // the 100 TB key shape (8-byte digests on the shuffle) is pinned
    // result-identical to the oracle-checked string path
    assert(Dedup.exactSubstrSpans(corpus, "doc_id", "text", minLen = 3,
      digestKeys = true).as[(Long, Long, Long, Boolean, String)]
      .collect().toSet == spans)
    def dedup(dig: Boolean) = Dedup.exactSubstrDedup(corpus, "doc_id",
        "text", minLen = 3, digestKeys = dig)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(dedup(dig = true) == dedup(dig = false))
  }

  test("pairMetrics: canonicalization collapse, counts, empty-input pins") {
    import spark.implicits._
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    // (2,1) reversed + (1,2) duplicate collapse to ONE hit; (7,7) self
    // pair drops; (8,9) is the lone false positive -> p = r = 2/3
    val pred = Seq((2L, 1L), (1L, 2L), (3L, 4L), (7L, 7L), (8L, 9L))
      .toDF("id_a", "id_b")
    def m(p: org.apache.spark.sql.DataFrame, t: org.apache.spark.sql.DataFrame) =
      Dedup.pairMetrics(p, t, "id_a", "id_b")
        .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(m(pred, truth) == ((3L, 3L, 2L, 0.666667, 0.666667, 0.666667)))
    // truth orientation must canonicalize too
    val truthRev = truth.select($"id_b".as("id_a"), $"id_a".as("id_b"))
    assert(m(pred, truthRev) == ((3L, 3L, 2L, 0.666667, 0.666667, 0.666667)))
    // empty prediction / empty truth: metrics pinned 0.0, no NaN/divide
    assert(m(pred.filter($"id_a" > 100), truth) ==
      ((3L, 0L, 0L, 0.0, 0.0, 0.0)))
    assert(m(pred, truth.filter($"id_a" > 100)) ==
      ((0L, 3L, 0L, 0.0, 0.0, 0.0)))
  }

  test("repeatedSpanMask: applying the mask reproduces the remove path; digest path identical") {
    val planted = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", concat($"text",
        when($"doc_id" % 4 === 0, lit(" b0 b1 b2 b3 b4 b5 b6 b7"))
          .otherwise(lit(""))).as("text"))
    val rm = Dedup.removeRepeatedSpans(planted, "doc_id", "text",
        n = 5, minCount = 3)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    val mask = Dedup.repeatedSpanMask(planted, "doc_id", "text",
        n = 5, minCount = 3)
      .as[(Long, Long, Long, String)].collect()
    val toks = planted.select($"doc_id",
        graft.ops.TextAnalysis.tokens($"text"))
      .as[(Long, Seq[String])].collect().toMap
    assert(mask.nonEmpty && mask.exists(_._3 > 0))
    mask.foreach { case (id, nTok, nMasked, m) =>
      val (_, rmTok, rmCnt, clean) = rm(id)
      assert(nTok == rmTok && nMasked == rmCnt, id)
      assert(m.length == nTok, id)
      // keeping exactly the '1' positions reproduces the remove path
      val kept = toks(id).zip(m).collect { case (t, '1') => t }
        .mkString(" ")
      assert(kept == clean, id)
    }
    // 8-byte xxhash64 keys produce the identical mask frame
    val dig = Dedup.repeatedSpanMask(planted, "doc_id", "text",
        n = 5, minCount = 3, digestKeys = true)
      .as[(Long, Long, Long, String)].collect()
    assert(dig.toSet == mask.toSet)
  }

  test("ngramContainment flags sub-document inclusion symmetric Jaccard misses") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), // 8 distinct 3-grams
      (2L, "w4 w5 w6 w7")                      // 2 3-grams, both inside doc 1
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val r = Dedup.ngramContainment(pairs, docs, "doc_id", "text", n = 3)
      .select("containment_a", "containment_b", "jaccard")
      .as[(Double, Double, Double)].collect().head
    assert(r._2 == 1.0)   // doc 2 fully contained in doc 1
    assert(r._1 == 0.25 && r._3 == 0.25) // symmetric views sit at 2/8
  }

  test("exactByDigest agrees with full-text exact dedup (both digests)") {
    // the digest path is the corpus-scale default (8/32-byte shuffle key vs
    // whole documents); this pins its results to the full-text baseline
    val full = Dedup.exact(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    val hashed = Dedup.exactByDigest(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    val crypto = Dedup.exactByDigest(docs, "text", "doc_id", crypto = true)
      .as[(Long, Long)].collect().toMap
    assert(hashed == full)
    assert(crypto == full)
  }

  test("paragraphDedup keeps only the first corpus occurrence of each paragraph") {
    val corpus = Seq(
      (1L, "alpha beta\n\ngamma delta"),
      (2L, "gamma delta\n\nepsilon zeta"), // para 0 copies doc 1 pos 1
      (3L, "alpha beta\n\nalpha beta")     // both paras copy doc 1 pos 0
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(corpus, "doc_id", "text")
      .as[(Long, Int, String, Boolean)].collect()
    assert(out.length == 6) // exploded frame keeps every (doc, pos) row
    val kept = out.filter(_._4).map(r => (r._1, r._2, r._3)).toSet
    assert(kept == Set((1L, 0, "alpha beta"), (1L, 1, "gamma delta"),
      (2L, 1, "epsilon zeta")))
    // exactly one survivor per distinct paragraph, anywhere in the corpus
    assert(out.groupBy(_._3).forall { case (_, rs) => rs.count(_._4) == 1 })
  }

  test("reassembleKept rebuilds surviving paragraphs in position order") {
    val corpus = Seq(
      (1L, "alpha beta\n\ngamma delta"),
      (2L, "gamma delta\n\nepsilon zeta"),
      (3L, "alpha beta\n\nalpha beta") // fully duplicated -> drops out
    ).toDF("doc_id", "text")
    val rebuilt = Dedup.reassembleKept(
      Dedup.paragraphDedup(corpus, "doc_id", "text"))
      .as[(Long, String)].collect().toMap
    assert(rebuilt == Map(
      1L -> "alpha beta\n\ngamma delta", // both paras first occurrences
      2L -> "epsilon zeta"))             // para 0 deduped away, order kept
  }

  test("paragraphDedup quotes regex separators; within-doc first occurrence wins") {
    val out = Dedup.paragraphDedup(
      Seq((7L, "x|y|x")).toDF("doc_id", "text"), "doc_id", "text", sep = "|")
      .as[(Long, Int, String, Boolean)].collect()
    assert(out.length == 3)
    assert(out.filter(_._4).map(_._2).sorted.toSeq == Seq(0, 1)) // pos 2 is the dup
  }

  test("shingles produces w-grams and whole-text fallback") {
    val sh = Seq("a b c d").toDF("text")
      .select(Dedup.shingles(TextAnalysis.tokens(col("text")), 2).as("sh"))
      .as[Seq[String]].head()
    assert(sh == Seq("a b", "b c", "c d"))
    val short = Seq("a b").toDF("text")
      .select(Dedup.shingles(TextAnalysis.tokens(col("text")), 5).as("sh"))
      .as[Seq[String]].head()
    assert(short == Seq("a b"))
  }

  test("native MinHashSigs is bit-identical to the explode+aggregate formulation") {
    // the shuffle-free expression must reproduce min(xxhash64(j, h)) per j
    // exactly — same planted corpus the LSH specs use, several (w, k)
    for ((w, k) <- Seq((2, 16), (3, 32), (5, 8))) {
      val fast = Dedup.minhashSignatures(docs, "doc_id", "text", w, k)
        .as[(Long, Seq[Long])].collect().toMap
      val agg = Dedup.minhashSignaturesAgg(docs, "doc_id", "text", w, k)
        .as[(Long, Seq[Long])].collect().toMap
      assert(fast == agg, s"w=$w k=$k")
    }
  }

  test("MinHashSigs yields NULL for an empty shingle array (no sentinel bucket)") {
    // a non-null sentinel would band all empty-input docs into one LSH
    // bucket and pair them all; null mirrors the aggregate formulation,
    // which emits no row for an empty group
    val row = spark.range(1).select(
      graft.functions.MinHashFunctions.minhash_sigs(
        expr("array()").cast("array<long>"), 4).as("sig")).head()
    assert(row.isNullAt(0))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleW = 2, k = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("portable md5 family recovers the same duplicate pairs as xxhash64") {
    // different hash family -> different buckets, but the planted
    // duplicates must be recovered by BOTH (the exact-Jaccard verify is
    // family-neutral, so agreeing pairs carry identical jaccard values)
    def run(f: (org.apache.spark.sql.DataFrame, String, String, Int, Int, Int,
        Double, Int) => org.apache.spark.sql.DataFrame) =
      f(docs, "doc_id", "text", 2, 32, 16, 0.5, 256)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
    val xx = run(Dedup.minhashLshPairs)
    val md = run(Dedup.minhashLshPairsPortable)
    assert(md.contains(xx.find(p => p._1 == 1L && p._2 == 2L).get))
    assert(!md.exists(p => p._1 == 4L || p._2 == 4L))
    // candidate sets may differ across families; verified pairs agree on
    // the planted duplicates (jaccard is computed from the same shingle
    // SETS modulo 60-vs-64-bit hash collisions)
    assert(xx.map(p => (p._1, p._2)) == md.map(p => (p._1, p._2)))
  }

  test("md5 shingle hashes follow the documented portable formula") {
    // h60(s) = first 15 hex digits of md5(s) — the exact value an
    // external SQL engine derives from the formula in the scaladoc
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long =
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
          .substring(0, 15), 16)
    val out = Seq((1L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
      .select(graft.functions.Md5ShingleFunctions.md5_shingle_hashes(
        graft.ops.TextAnalysis.tokens($"text"), 2).as("sh"))
      .head().getSeq[Long](0)
    assert(out == Seq(h60("alpha beta"), h60("beta gamma"), h60("gamma delta")))
    // n <= w -> one whole-text shingle; empty text -> h60("")
    val whole = Seq((1L, "alpha beta")).toDF("doc_id", "text")
      .select(graft.functions.Md5ShingleFunctions.md5_shingle_hashes(
        graft.ops.TextAnalysis.tokens($"text"), 3).as("sh"))
      .head().getSeq[Long](0)
    assert(whole == Seq(h60("alpha beta")))
    val empty = Seq((1L, "  ")).toDF("doc_id", "text")
      .select(graft.functions.Md5ShingleFunctions.md5_shingle_hashes(
        graft.ops.TextAnalysis.tokens($"text"), 3).as("sh"))
      .head().getSeq[Long](0)
    assert(empty == Seq(h60("")))
    // minhash: sig[j] = min over distinct hashes of h60(j + ":" + h)
    val hs = Seq(h60("alpha beta"), h60("beta gamma"))
    val sig = Seq(Tuple1(hs)).toDF("sh")
      .select(graft.functions.Md5ShingleFunctions.md5_minhash_sigs($"sh", 3).as("sig"))
      .head().getSeq[Long](0)
    assert(sig == (0 until 3).map(j => hs.map(h => h60(s"$j:$h")).min))
  }

  test("portable simhash family recovers planted duplicates; 60-bit range; formula pin") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long =
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
          .substring(0, 15), 16)
    // formula: bit b set when token-occurrence votes on bit b of h60 sum > 0
    val sig = Seq((1L, "alpha beta alpha")).toDF("doc_id", "text")
      .select(graft.functions.Md5ShingleFunctions.md5_simhash60(
        graft.ops.TextAnalysis.tokens($"text")).as("s"))
      .head().getLong(0)
    val hs = Seq(h60("alpha"), h60("beta"), h60("alpha"))
    val expect = (0 until 60).map { b =>
      val v = hs.map(h => if (((h >>> b) & 1L) == 1L) 1 else -1).sum
      if (v > 0) 1L << b else 0L
    }.sum
    assert(sig == expect)
    assert(sig >= 0L && sig < (1L << 60))
    // identical docs -> hamming 0 pairs; unrelated doc stays out
    val pairs = Dedup.simhashPairsPortable(docs, "doc_id", "text", maxHamming = 6)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(pairs.contains((1L, 2L, 0)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // token-less docs emit no signature (no sentinel bucket)
    val withEmpty = docs.unionByName(Seq((99L, "   ")).toDF("doc_id", "text"))
    assert(!Dedup.simhashPairsPortable(withEmpty, "doc_id", "text", maxHamming = 60)
      .filter($"id_a" === 99L || $"id_b" === 99L).head(1).nonEmpty)
  }

  test("identical docs share identical minhash signatures -> jaccard 1.0") {
    val j = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleW = 2, k = 16, bands = 8, threshold = 0.99)
      .filter($"id_a" === 1 && $"id_b" === 2)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("native SimHash64 is bit-identical to the explode+aggregate formulation") {
    val fast = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val agg = Dedup.simhashAgg(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fast == agg)
    // token-less doc: absent from both formulations
    val withEmpty = docs.unionByName(
      Seq((99L, "   ")).toDF("doc_id", "text"))
    assert(!Dedup.simhash(withEmpty, "doc_id", "text")
      .as[(Long, Long)].collect().toMap.contains(99L))
  }

  test("simhash: identical docs hamming 0; near dups low; pairs detected") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("null-id pairs resolve identically on both paths: non-null side becomes a singleton") {
    val pairs = Seq((Option(1L), Option(2L)), (Option(5L), Option.empty[Long]),
      (Option.empty[Long], Option(7L)),
      (Option.empty[Long], Option.empty[Long])).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 7L -> 7L)
    val local = Dedup.resolveClusters(pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.resolveClusters(pairs, localEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local == expected)
    assert(dist == expected)
  }

  test("resolveClusters merges transitive chains; dedupByClusters keeps min-id survivors") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val clusters = Dedup.resolveClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    val corpus = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val survivors = Dedup.dedupByClusters(corpus, "doc_id", pairs)
      .as[Long].collect().toSet
    assert(survivors == Set(1L, 4L, 5L)) // cluster mins + untouched 4
  }

  test("resolveClusters converges on a 400-node chain within default maxIter (pointer jumping)") {
    // path graph 0-1-2-...-399: plain one-hop min-propagation needs ~400
    // iterations; pointer jumping at least doubles propagation distance per
    // round, so the default maxIter=10 must fully resolve it to ONE cluster
    // (a partial clustering here is the silent-wrong-answer failure mode)
    val chain = spark.range(0, 399)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    // localEdgeLimit = 0 forces the DISTRIBUTED loop — the property under
    // test is the pointer-jumping convergence, not the small-input path
    val clusters = Dedup.resolveClusters(chain, localEdgeLimit = 0L)
    assert(clusters.count() == 400)
    assert(clusters.select("cluster_id").distinct().count() == 1)
    assert(clusters.agg(max("cluster_id")).head().getLong(0) == 0L)
  }

  test("resolveClusters: non-integral ids take the distributed path; integral id types are preserved") {
    // string ids (digest-keyed dedup) must not hit the primitive-long fast
    // path — before the type guard, cast('long') nulled them and collect crashed
    val sPairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val sLabels = Dedup.resolveClusters(sPairs)
      .as[(String, String)].collect().toMap
    assert(sLabels == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
    // int ids through the fast path keep IntegerType (the distributed
    // path's output type), so schema does not depend on input volume
    val iPairs = Seq((1, 2), (2, 3), (5, 6)).toDF("id_a", "id_b")
    val local = Dedup.resolveClusters(iPairs)
    assert(local.schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(local.schema("cluster_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val dist = Dedup.resolveClusters(iPairs, localEdgeLimit = 0L)
    assert(local.as[(Int, Int)].collect().toSet ==
      dist.as[(Int, Int)].collect().toSet)
  }

  test("resolveClusters local union-find path equals the distributed loop") {
    // mixed shapes: a chain, a star, singleton pairs, duplicate+reversed
    // edges — the two paths must produce identical label sets
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (10L, 13L), (20L, 21L), (21L, 20L), (1L, 2L), (30L, 31L))
      .toDF("id_a", "id_b")
    val local = Dedup.resolveClusters(edges)
      .as[(Long, Long)].collect().toSet
    val dist = Dedup.resolveClusters(edges, localEdgeLimit = 0L)
      .as[(Long, Long)].collect().toSet
    assert(local == dist)
    assert(local == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
  }

  test("resolveClusters and dedupByClusters handle an empty pair set") {
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.resolveClusters(noPairs).count() == 0)
    val out = Dedup.dedupByClusters(docs, "doc_id", noPairs)
    assert(out.count() == docs.count()) // nothing to dedup -> untouched
  }

  test("degenerate corpus: hot-bucket cap keeps pairs linear, clusters connected") {
    // 1000 identical docs + a second 200-doc dup group: every band bucket is
    // oversized, so candidates must be star edges (linear), never all-pairs
    // (quadratic) -- and each group must still resolve to ONE cluster
    // through its hub. This is the skew shape (boilerplate/empty docs) that
    // would dominate a 100 TB dedup job without the cap.
    val groupA = spark.range(0, 1000).select(col("id").as("doc_id"),
      lit("the same boilerplate text repeated across the whole corpus verbatim").as("text"))
    val groupB = spark.range(2000, 2200).select(col("id").as("doc_id"),
      lit("an entirely different disclaimer footer appended to every message body").as("text"))
    val pairs = Dedup.minhashLshPairs(groupA.unionByName(groupB), "doc_id", "text",
      shingleW = 2, k = 16, bands = 4, threshold = 0.9, maxBucketSize = 64)
    val cnt = pairs.count()
    // star edges: (1000-1) + (200-1) = 1198 minimum, one per member per group
    assert(cnt >= 1198 && cnt <= 4 * 1198, s"expected linear star edges, got $cnt")
    // dual-anchor shape: members link to the MAX-id anchor too (a single-
    // hub star would only ever emit (0, id) edges inside group A)
    assert(pairs.filter(col("id_a") === 1 && col("id_b") === 999).count() == 1,
      "missing max-anchor star edge (1, 999)")
    val clusters = Dedup.resolveClusters(pairs)
    val bySize = clusters.groupBy("cluster_id").count()
      .select("count").as[Long].collect().sorted
    assert(bySize.toSeq == Seq(200L, 1000L))
  }

  test("degenerate corpus: simhash hot buckets stay linear and connected") {
    val degen = spark.range(0, 800).select(col("id").as("doc_id"),
      lit("identical short doc body for every row in this corpus").as("text"))
    val pairs = Dedup.simhashPairs(degen, "doc_id", "text",
      maxHamming = 3, maxBucketSize = 64)
    val cnt = pairs.count()
    assert(cnt >= 799 && cnt <= 4 * 799, s"expected linear star edges, got $cnt")
    // dual-anchor shape (see minhash degenerate spec)
    assert(pairs.filter(col("id_a") === 1 && col("id_b") === 799).count() == 1,
      "missing max-anchor star edge (1, 799)")
    assert(Dedup.resolveClusters(pairs).select("cluster_id").distinct().count() == 1)
  }

  test("shingle_hashes tolerates null tokens (null slot hashes as seed, no NPE)") {
    val h = spark.range(1).select(graft.functions.ShingleFunctions
        .shingle_hashes(array(lit("a"), lit(null).cast("string"), lit("b")), 2).as("h"))
      .select(size(col("h"))).as[Int].head()
    assert(h == 2) // 3 tokens, w=2 -> 2 shingles
  }

  test("cosinePairsExact finds planted perturbed vectors; LSH path recovers them") {
    // 40 near-orthogonal base vectors (unit axes in 40-dim via hash signs)
    // + perturbed copies of the first 10: exact must find exactly the 10
    // planted pairs at 0.9; the banded SRP path must recover most of them
    // (same verify, candidates only from shared buckets) and nothing else.
    val dim = 16
    val base = spark.range(0, 40).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => when(pmod(xxhash64(col("id"), i), lit(1000)) < 500, -1.0).otherwise(1.0)
          + col("id") * i * 0.001).as("v"))
    val planted = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100).as("vec_id"),
        transform(col("v"), x => x * 1.02 + 0.01).as("v"))
    val corpus = base.unionByName(planted)
    val exact = Dedup.cosinePairsExact(corpus, "vec_id", "v", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size >= 10 && (0 until 10).forall(i => exact.contains((i.toLong, i + 100L))),
      s"exact missed planted pairs: $exact")
    val lsh = Dedup.cosinePairsLsh(corpus, "vec_id", "v", 0.95,
      planes = 6, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), s"LSH emitted non-verified pairs: ${lsh -- exact}")
    val planted10 = (0 until 10).map(i => (i.toLong, i + 100L)).toSet
    assert((lsh & planted10).size >= 8, s"LSH recall too low: ${(lsh & planted10).size}/10")
  }

  test("ngramJaccard computes exact overlap for explicit pairs") {
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(pairs, docs, "doc_id", "text", n = 3)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("semanticDedup: cluster-scoped pairs, keep-the-outlier rule, cross-cluster blind spot") {
    // c0=(1,0), c1=(0,1); a/b are near-dups in cluster 0 with a CLOSER to
    // the centroid than b -> a drops, b (the outlier) survives; c sits
    // alone in cluster 1; e/f are a near-dup pair SPLIT across clusters —
    // the documented scoping trade means they are NOT paired
    val emb = Seq(
      (1L, Seq(1.0, 0.01)), (2L, Seq(1.0, 0.02)), (3L, Seq(0.02, 1.0)),
      (4L, Seq(0.7, 0.72)), (5L, Seq(0.72, 0.7))
    ).toDF("vec_id", "v")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cv")
    val out = Dedup.semanticDedup(emb, "vec_id", "v", cents, "cid", "cv", 0.99)
      .select("vec_id", "cluster_id", "is_dup", "kept")
      .as[(Long, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((0L, true, false)), out)  // closer to centroid: dropped
    assert(out(2L) == ((0L, true, true)), out)   // outlier kept
    assert(out(3L) == ((1L, false, true)), out)
    assert(out(4L) == ((1L, false, true)), out)  // cross-cluster near-dup:
    assert(out(5L) == ((0L, false, true)), out)  // unseen by design
  }

  test("semanticDedup: maxClusterSize guard trips on a planted giant cluster") {
    // 1000 vectors, 80% collapse into cluster 0 — the operator's known
    // quadratic hazard; the guard must refuse loudly with the mitigation
    // named, and the default (0 = disabled) must keep working
    val emb = spark.range(0, 1000)
      .select($"id".as("vec_id"),
        when($"id" < 800, array(lit(1.0), lit(0.0)))
          .otherwise(array(lit(0.0), lit(1.0))).as("v"))
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cv")
    val err = intercept[IllegalArgumentException] {
      Dedup.semanticDedup(emb, "vec_id", "v", cents, "cid", "cv", 0.99,
        maxClusterSize = 500L)
    }
    assert(err.getMessage.contains("more") &&
      err.getMessage.contains("centroids"), err.getMessage)
    assert(err.getMessage.contains("800"), err.getMessage)
    // a cap above the worst cluster passes through; identical vectors in
    // the giant cluster collapse to one survivor
    val out = Dedup.semanticDedup(emb, "vec_id", "v", cents, "cid", "cv",
      0.99, maxClusterSize = 1000L)
    assert(out.count() == 1000L)
    assert(out.filter($"cluster_id" === 0 && $"kept").count() == 1L)
  }

  test("Md5PairKeys: native 120-bit gram keys equal the replaced column spelling bit-for-bit") {
    // r16 rewrite: sourceOverlap/rareNgramPairs' per-gram
    // md5-to-hex + double conv(substring) lambda chain became one
    // native pass. Pins h1/h2 extraction and array_distinct set
    // semantics against the replaced spelling on unicode, duplicate,
    // empty-string, and empty-array inputs.
    val docs = Seq(
      (1L, Seq("a b c", "d e f", "a b c", "中文 字 符", "🙂 x y")),
      (2L, Seq("")), (3L, Seq[String]()),
      (4L, (1 to 200).map(i => s"tok$i tok${i + 1} tok${i % 7}")))
      .toDF("id", "grams")
    val native = docs.select($"id",
      explode(graft.functions.Md5ShingleFunctions.md5_pair_keys($"grams"))
        .as("gk"))
    val old = docs.select($"id",
      explode(array_distinct(transform(
        transform($"grams", g => md5(g.cast("binary"))),
        h => struct(
          conv(substring(h, 1, 15), 16, 10).cast("long").as("h1"),
          conv(substring(h, 16, 15), 16, 10).cast("long").as("h2")))))
        .as("gk"))
    assert(native.exceptAll(old).count() === 0L)
    assert(old.exceptAll(native).count() === 0L)
  }

  test("sourceOverlap: planted shared grams count exactly; minhash estimate tracks truth") {
    // A and B share exactly half their grams; C is disjoint. Five-token
    // docs of distinct words => 3 trigram shingles per doc
    val docs = Seq(
      ("A", "a1 a2 a3 a4 a5"), ("A", "s1 s2 s3 s4 s5"),
      ("B", "b1 b2 b3 b4 b5"), ("B", "s1 s2 s3 s4 s5"),
      ("C", "c1 c2 c3 c4 c5")
    ).toDF("source", "text")
    val out = Dedup.sourceOverlap(docs, "source", "text", n = 3)
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // each source: 2 docs x 3 shingles = 6 grams (A/B), C: 3
    assert(out(("A", "B")) == ((6L, 6L, 3L, 0.333333)), out)
    assert(out(("A", "C")) == ((6L, 3L, 0L, 0.0)), out)
    assert(out(("B", "C")) == ((6L, 3L, 0L, 0.0)), out)
    // the sketch tracks exact truth within MinHash stderr (k=128 ->
    // sigma ~0.04; 4 sigma bound keeps this deterministic-by-seed)
    val est = Dedup.sourceOverlapMinhash(docs, "source", "text", n = 3,
        k = 128)
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(est(("A", "B")) - 0.333333) < 0.17, est)
    assert(est(("A", "C")) < 0.17, est)
    // the 8-byte xxhash64 fast path lands on the identical frame
    val hashedOut = Dedup.sourceOverlap(docs, "source", "text", n = 3,
        hashed = true)
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(hashedOut == out, (hashedOut, out))
  }

  test("source-signature store: incremental ingest == batch; replay/order idempotent; crash-safe") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"source", $"text")
    val s1 = docs.limit(200)
    val s2 = docs.except(s1)
    val root = java.nio.file.Files.createTempDirectory("sig_store").toString
    def state = spark.read.parquet(s"$root/signatures")
      .select("src", "j", "mh").as[(String, Int, Long)].collect().toSet
    // shard-by-shard ingest lands on the same state as one batch write
    Dedup.ingestSourceSignatures(spark, root, s1, "source", "text")
    Dedup.ingestSourceSignatures(spark, root, s2, "source", "text")
    val incremental = state
    val batchRoot = java.nio.file.Files.createTempDirectory("sig_batch").toString
    Dedup.writeSourceSignatures(spark, batchRoot, docs, "source", "text")
    val batch = spark.read.parquet(s"$batchRoot/signatures")
      .select("src", "j", "mh").as[(String, Int, Long)].collect().toSet
    assert(incremental == batch)
    // the hash family is RECORDED state: every row carries it, and a
    // store from a different (or unrecorded) family refuses to merge or
    // estimate instead of silently corrupting jaccard_est
    assert(spark.read.parquet(s"$root/signatures")
      .select("fam").distinct().as[String].collect().toSeq ==
      Seq(Dedup.SigFamily))
    val legacyRoot = java.nio.file.Files.createTempDirectory("sig_legacy")
      .toString
    spark.read.parquet(s"$root/signatures").select("src", "j", "mh")
      .write.parquet(s"$legacyRoot/signatures") // pre-r10 layout: no fam
    val e1 = intercept[IllegalArgumentException] {
      Dedup.estimateSourceOverlap(spark, legacyRoot)
    }
    assert(e1.getMessage.contains("rebuild"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.ingestSourceSignatures(spark, legacyRoot, s1, "source", "text")
    }
    assert(e2.getMessage.contains("rebuild"), e2.getMessage)
    // min-merge is idempotent: re-ingesting a shard changes nothing
    Dedup.ingestSourceSignatures(spark, root, s1, "source", "text")
    assert(state == batch)
    // estimate from the store == direct sketch estimate on the union
    val fromStore = Dedup.estimateSourceOverlap(spark, root)
      .as[(String, String, Double)].collect().toSet
    val direct = Dedup.sourceOverlapMinhash(docs, "source", "text")
      .as[(String, String, Double)].collect().toSet
    assert(fromStore == direct)
    // crash between retire and promote: target gone, __old holds state
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/signatures"),
      new org.apache.hadoop.fs.Path(s"$root/signatures__old")))
    val recovered = Dedup.estimateSourceOverlap(spark, root)
      .as[(String, String, Double)].collect().toSet
    assert(recovered == direct, "reader must restore the retired generation")
  }

  test("rareNgramPairs: df cap drops boilerplate grams, minShared prunes weak links") {
    // d1/d2 are exact copies (share every trigram); d3 shares exactly ONE
    // trigram with them (below minShared=2); ten boilerplate docs share a
    // trigram with df=10 > maxDf=8, which must produce NO pairs
    val docs = (Seq(
      (1L, "q w e r t"), (2L, "q w e r t"), (3L, "z x q w e")) ++
      (10L until 20L).map(i => (i, s"common gram here filler$i"))
    ).toDF("doc_id", "text")
    val out = Dedup.rareNgramPairs(docs, "doc_id", "text",
        n = 3, maxDf = 8, minShared = 2)
      .select("id_a", "id_b", "n_shared").as[(Long, Long, Long)]
      .collect().toSet
    assert(out == Set((1L, 2L, 3L)), out)
    // minShared=1 admits the single-gram link (and the boilerplate group
    // still yields nothing: its shared gram is above the df cap)
    val loose = Dedup.rareNgramPairs(docs, "doc_id", "text",
        n = 3, maxDf = 8, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(loose == Set((1L, 2L), (1L, 3L), (2L, 3L)), loose)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("quantizeInt8: codes bounded, extreme element hits ±127, zero vector safe") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df, "embedding")
      .select("vec_id", "qcode", "qscale")
      .as[(Long, Seq[Long], Double)].collect().map(r => r._1 -> r).toMap
    // scale = 1.0/127; codes = round(x*127): (64, -127, 32)
    assert(q(1L)._2 == Seq(64L, -127L, 32L))
    assert(math.abs(q(1L)._3 - 1.0 / 127) < 1e-12)
    assert(q(2L)._2 == Seq(0L, 0L, 0L) && q(2L)._3 == 0.0)
  }

  test("quantizeBinary: packing formula pinned; 63-bit words; empty/zero vectors") {
    // 65 dims forces two words: bit b of word w set iff v[w*63+b] > 0
    val v = Array.tabulate(65)(i => if (i % 3 == 0) 1.0f else if (i % 3 == 1) -1.0f else 0.0f)
    val code = Similarity.quantizeBinary(
        Seq((1L, v.toSeq)).toDF("vec_id", "embedding"), "embedding")
      .select("bcode").as[Seq[Long]].head()
    val expect = (0 until 2).map { w =>
      (0 until 63).map { b =>
        val i = w * 63 + b
        if (i < 65 && v(i) > 0) 1L << b else 0L
      }.sum
    }
    assert(code == expect)
    assert(code.forall(_ >= 0L), "63-bit packing keeps words non-negative")
    // zero vector packs to all-zero words (strict > 0); empty to empty
    val z = Similarity.quantizeBinary(
        Seq((1L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding"), "embedding")
      .select("bcode").as[Seq[Long]].head()
    assert(z == Seq(0L))
    val e = Similarity.quantizeBinary(
        Seq((1L, Seq.empty[Float])).toDF("vec_id", "embedding"), "embedding")
      .select("bcode").as[Seq[Long]].head()
    assert(e.isEmpty)
  }

  test("binary rerank equals brute force at full rerank; hamming zero for self") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id").isin(0L, 7L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val brute = Similarity.bruteForceKnnBatch(emb, queries,
        "vec_id", "embedding", "query_id", 8)
      .select("query_id", "vec_id", "cosine_sim")
      .as[(Long, Long, Double)].collect().toSet
    val n = emb.count().toInt
    val full = Similarity.knnBinaryRerank(emb, queries,
        "vec_id", "embedding", "query_id", 8, rerank = n / 8 + 1)
      .select("query_id", "vec_id", "cosine_sim")
      .as[(Long, Long, Double)].collect().toSet
    assert(full == brute)
    // a query's own vector is hamming 0 from itself
    val self = Similarity.knnBinaryRerank(emb, queries,
        "vec_id", "embedding", "query_id", 8, rerank = 4)
      .filter(col("query_id") === col("vec_id"))
      .select("hamming").as[Long].collect()
    assert(self.nonEmpty && self.forall(_ == 0L))
  }

  test("quantized rerank equals brute force at full rerank; high recall at rerank=4") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id").isin(0L, 7L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val brute = Similarity.bruteForceKnnBatch(emb, queries,
        "vec_id", "embedding", "query_id", 8)
      .select("query_id", "vec_id", "cosine_sim")
      .as[(Long, Long, Double)].collect().toSet
    // rerank covering the whole corpus makes the approximate cut a no-op:
    // the two-stage answer must EQUAL brute force, not just approximate it
    val n = emb.count().toInt
    val full = Similarity.knnQuantizedRerank(emb, queries,
        "vec_id", "embedding", "query_id", 8, rerank = n / 8 + 1)
      .select("query_id", "vec_id", "cosine_sim")
      .as[(Long, Long, Double)].collect().toSet
    assert(full == brute)
    // the production cut (rerank=4) keeps high recall on real vectors
    val fast = Similarity.knnQuantizedRerank(emb, queries,
        "vec_id", "embedding", "query_id", 8, rerank = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val bruteIds = brute.map(r => (r._1, r._2))
    assert(fast.intersect(bruteIds).size >= 14, // >= 14/16
      s"recall too low: ${fast.intersect(bruteIds).size}/16")
  }

  test("projectRandom: deterministic matrix, planted near-dups keep their geometry") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.projectRandom(emb, "embedding", inDim = 64, outDim = 16)
      .select("vec_id", "projected").as[(Long, Seq[Double])].collect().toMap
    val b = Similarity.projectRandom(emb, "embedding", inDim = 64, outDim = 16)
      .select("vec_id", "projected").as[(Long, Seq[Double])].collect().toMap
    assert(a == b, "projection must be deterministic across plans")
    // x18's planted perturbation (cos ~0.997 in 64d) must survive the
    // 64->16 projection as a high-cosine pair for nearly every pair
    val pert = emb.filter($"vec_id" < 25)
      .select($"vec_id", transform($"embedding", (x, i) =>
        x.cast("double") * (lit(1.0) + lit(0.05) * ((i % 3) - lit(1))))
        .as("embedding"))
    val po = Similarity.projectRandom(pert, "embedding", 64, 16)
      .select($"vec_id", $"projected".as("pp"))
    val joined = Similarity.projectRandom(emb.filter($"vec_id" < 25),
        "embedding", 64, 16)
      .select($"vec_id", $"projected")
      .join(po, "vec_id")
      .withColumn("c", Similarity.cosine($"projected", $"pp"))
      .select("c").as[Double].collect()
    assert(joined.length == 25)
    assert(joined.count(_ > 0.9) >= 20, joined.sorted.mkString(","))
    assert(joined.forall(_ > 0.7), joined.sorted.mkString(","))
  }

  private val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(2.0f, 0.0f, 0.0f)),   // same direction as 0
    (2L, Seq(0.0f, 1.0f, 0.0f)),   // orthogonal
    (3L, Seq(-1.0f, 0.0f, 0.0f)),  // opposite
    (4L, Seq(1.0f, 1.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine: identical direction 1, orthogonal 0, opposite -1") {
    val out = vecs.crossJoin(
        vecs.filter($"vec_id" === 0).select($"embedding".as("qvec")))
      .select($"vec_id", Similarity.cosine($"embedding", $"qvec").as("c"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(out(1L) - 1.0) < 1e-12)
    assert(out(2L) == 0.0)
    assert(math.abs(out(3L) + 1.0) < 1e-12)
  }

  test("bruteForceKnn returns k best, ties broken by id") {
    val q = vecs.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    val top = Similarity.bruteForceKnn(vecs, q, "vec_id", "embedding", 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(0L, 1L, 4L)) // cos: 1.0, 1.0 (tie->ids), then 0.707
  }

  test("identical-direction vectors share SRP bucket; query finds them via lshKnn") {
    val q = vecs.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    val found = Similarity.lshKnn(vecs, q, "vec_id", "embedding", 5,
      planes = 4, multiProbe = false)
      .select("vec_id").as[Long].collect().toSet
    assert(found.contains(0L) && found.contains(1L)) // same signature as query
  }

  test("IVF: nprobe=nc reproduces brute force exactly; small nprobe keeps high recall") {
    val spark2 = spark
    val emb = spark2.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = graft.ops.IVF.train(emb, "vec_id", "embedding", nc = 8, iters = 3)
    assert(model.centroids.length == 8 && model.centroids.head.length == 64)
    val assigned = graft.ops.IVF.assign(emb, "embedding", model)
    assert(assigned.select("centroid_id").distinct().count() > 1)
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    val brute = Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", 10)
      .select("vec_id").as[Long].collect().toSeq
    val full = graft.ops.IVF.search(assigned, q, "vec_id", "embedding", model, 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(full == brute) // probing every list IS brute force
    val probed = graft.ops.IVF.search(assigned, q, "vec_id", "embedding", model, 10, nprobe = 3)
      .select("vec_id").as[Long].collect().toSet
    val recall = brute.count(probed.contains).toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("IVF.trainPortable: partition-invariant bit-identical centroids, ≈ float trainer") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // the property the float trainer CANNOT give: identical centroids
    // regardless of how the input is partitioned (decimal sums commute)
    val a = graft.ops.IVF.trainPortable(emb.repartition(1),
      "vec_id", "embedding", nc = 8, iters = 3)
    val b = graft.ops.IVF.trainPortable(emb.repartition(7),
      "vec_id", "embedding", nc = 8, iters = 3)
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
    // every coordinate sits on the 6dp grid (the round6 recurrence)
    assert(a.centroids.flatten.forall(x =>
      x == math.rint(x * 1e6) / 1e6))
    // stays within a rounding step of the float trainer per coordinate:
    // the portable recurrence changes arithmetic, not the algorithm
    // (identical assignment trajectories on this fixture)
    val f = graft.ops.IVF.train(emb, "vec_id", "embedding", nc = 8, iters = 3)
    val av: Array[Double] = a.centroids.flatMap(_.toSeq)
    val fv: Array[Double] = f.centroids.flatMap(_.toSeq)
    val maxDiff = av.zip(fv).map { case (x, y) => math.abs(x - y) }.max
    assert(maxDiff <= 2e-6, s"maxDiff=$maxDiff")
  }

  test("bitextMarginMine: planted identical-vector pairs, mutual uniqueness") {
    import org.apache.spark.sql.functions.col
    val src = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 30)
    // target side = the same vectors under shifted ids: every source's
    // true match is its copy (cosine exactly 1.0)
    val tgt = src.select((col("vec_id") + 1000L).as("vec_id"),
      col("embedding"))
    val out = graft.ops.Similarity
      .bitextMarginMine(src, tgt, "vec_id", "embedding", k = 4)
      .collect()
    assert(out.nonEmpty)
    // mutual best-match ⇒ each side id appears at most once
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    assert(out.map(_.getLong(1)).distinct.length == out.length)
    // the survivors are the planted identity pairs: exact-match cosine
    // 1.0 and a margin strictly above the neighborhood mean
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) + 1000L, r.toString)
      assert(r.getDouble(2) == 1.0, r.toString)
      assert(r.getDouble(3) > 1.0, r.toString)
    }
  }

  test("bitextMarginMineApprox: LSH candidates recover the exact miner's pairs") {
    import org.apache.spark.sql.functions.col
    val src = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 30)
    val tgt = src.select((col("vec_id") + 1000L).as("vec_id"),
      col("embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("src_id"), col("tgt_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(graft.ops.Similarity
      .bitextMarginMine(src, tgt, "vec_id", "embedding", k = 4))
    // identical vectors share their SRP signature by construction, so the
    // planted copies are ALWAYS candidates; on this fixture the bucketed
    // miner lands on the same mutual pairs as the exact one
    val approx = pairs(graft.ops.Similarity
      .bitextMarginMineApprox(src, tgt, "vec_id", "embedding",
        k = 4, planes = 6))
    assert(approx == exact)
  }

  test("IVF index partitioned by centroid_id prunes the scan to the probed lists") {
    // the at-scale claim on IVF.assign: persisting the assigned corpus
    // partitioned by centroid_id turns nprobe pruning into file skipping --
    // the readback scan must show a partition filter and touch only the
    // probed lists' rows
    val dim = 8
    val emb = spark.range(0, 200).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => (pmod(xxhash64(col("id"), i), lit(97)).cast("double") - 48.0) / 48.0)
        .as("embedding"))
    val model = graft.ops.IVF.train(emb, "vec_id", "embedding", nc = 4, iters = 2)
    val assigned = graft.ops.IVF.assign(emb, "embedding", model)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(dir)
    val probed = spark.read.parquet(dir).filter(col("centroid_id").isin(0, 1))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"), plan.take(800))
    val expected = assigned.filter(col("centroid_id").isin(0, 1)).count()
    assert(probed.count() == expected && expected > 0)
  }

  test("bucketed IVF index: batch search equals the unbucketed path and prunes buckets") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = graft.ops.IVF.train(emb, "vec_id", "embedding", nc = 8, iters = 2)
    val assigned = graft.ops.IVF.assign(emb, "embedding", model)
    val queries = emb.filter($"vec_id".isin(0L, 7L))
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val table = s"graft_ivf_idx_${ProcessHandle.current().pid()}"
    graft.ops.IVF.writeIndex(assigned, table, numBuckets = 8)
    try {
      val bucketed = graft.ops.IVF.searchBatchBucketed(spark, table, queries,
        "vec_id", "embedding", "query_id", model, k = 8, nprobe = 3)
      val plain = graft.ops.IVF.searchBatch(assigned, queries,
        "vec_id", "embedding", "query_id", model, k = 8, nprobe = 3)
      assert(bucketed.as[(Long, Long, Double)].collect().toSet ==
        plain.as[(Long, Long, Double)].collect().toSet)
      // the scale claims, on the executed plan: probed lists only (bucket
      // pruning at the scan) and a shuffle-free index side (the probe
      // join broadcasts the query frame)
      val plan = bucketed.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan)
      assert(sel.isDefined, plan.take(800))
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"no bucket pruning: ${sel.get.matched}")
      assert(plan.contains("BroadcastHashJoin"), plan.take(800))
      // the index side never shuffles: the ONLY hash exchange is the tiny
      // per-query top-k regroup above the probe join
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
        plan.take(800))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("partitioned-dir IVF index: batch search equals the in-memory path and prunes partitions") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = graft.ops.IVF.train(emb, "vec_id", "embedding", nc = 8, iters = 2)
    val assigned = graft.ops.IVF.assign(emb, "embedding", model)
    val queries = emb.filter($"vec_id".isin(0L, 7L))
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_part_idx").toString + "/idx"
    graft.ops.IVF.writeIndexPartitioned(assigned, dir)
    val part = graft.ops.IVF.searchBatchPartitioned(spark, dir, queries,
      "vec_id", "embedding", "query_id", model, k = 8, nprobe = 3)
    val plain = graft.ops.IVF.searchBatch(assigned, queries,
      "vec_id", "embedding", "query_id", model, k = 8, nprobe = 3)
    assert(part.as[(Long, Long, Double)].collect().toSet ==
      plain.as[(Long, Long, Double)].collect().toSet)
    // scale claims on the executed plan: the probe prune must land as
    // PartitionFilters (directory skipping at the scan), the probe join
    // must broadcast the query side, and the index side never shuffles
    val plan = part.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(plan).isDefined,
      plan.take(800))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(800))
  }

  test("appendable IVF index: shard append equals full in-memory search; replay idempotent") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val shard = emb.filter($"vec_id" % 5 === 0)
    val model = graft.ops.IVF.train(base, "vec_id", "embedding", nc = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ivf_app_idx").toString + "/idx"
    graft.ops.IVF.writeIndexAppendable(
      graft.ops.IVF.assign(base, "embedding", model), root, model, "base")
    // persisted centroids round-trip exactly (appends must assign with them)
    assert(graft.ops.IVF.readModel(spark, root).centroids.map(_.toSeq).toSeq ==
      model.centroids.map(_.toSeq).toSeq)
    graft.ops.IVF.appendVectors(spark, root, shard, "vec_id", "embedding", "s1")
    val queries = emb.filter($"vec_id".isin(0L, 7L))
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    def viaIndex = graft.ops.IVF.searchBatchAppendable(spark, root, queries,
      "vec_id", "embedding", "query_id", k = 8, nprobe = 3)
    val ref = graft.ops.IVF.searchBatch(
      graft.ops.IVF.assign(emb, "embedding", model), queries,
      "vec_id", "embedding", "query_id", model, k = 8, nprobe = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaIndex.as[(Long, Long, Double)].collect().toSet == ref)
    // crash-replay of the same shard id: dynamic partition overwrite
    // replaces the shard's own leaves — no duplicate vectors, same results
    graft.ops.IVF.appendVectors(spark, root, shard, "vec_id", "embedding", "s1")
    val vecs = spark.read.parquet(s"$root/vectors")
    assert(vecs.count() == vecs.dropDuplicates("vec_id").count())
    assert(viaIndex.as[(Long, Long, Double)].collect().toSet == ref)
    // REBUILD over the same root (re-train = rebuild) must fully replace
    // vectors/: stale appended shards assigned with the old centroids
    // would otherwise survive the dynamic overwrite and corrupt searches
    val model2 = graft.ops.IVF.train(emb, "vec_id", "embedding", nc = 8, iters = 1)
    graft.ops.IVF.writeIndexAppendable(
      graft.ops.IVF.assign(emb, "embedding", model2), root, model2, "init")
    val rebuilt = spark.read.parquet(s"$root/vectors")
    assert(rebuilt.count() == emb.count(),
      s"rebuild left stale shard vectors: ${rebuilt.count()} vs ${emb.count()}")
    assert(rebuilt.dropDuplicates("vec_id").count() == emb.count())
  }

  test("searchBatchAppendable excludeShards: in-flight shard invisible, filter is partition-level") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val shard = emb.filter($"vec_id" % 5 === 0)
    val model = graft.ops.IVF.train(base, "vec_id", "embedding", nc = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ivf_excl").toString + "/idx"
    graft.ops.IVF.writeIndexAppendable(
      graft.ops.IVF.assign(base, "embedding", model), root, model, "base")
    val queries = emb.filter($"vec_id".isin(0L, 7L))
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    def search(excl: Seq[String]) = graft.ops.IVF.searchBatchAppendable(
      spark, root, queries, "vec_id", "embedding", "query_id",
      k = 8, nprobe = 3, excludeShards = excl)
    val baseOnly = search(Nil).as[(Long, Long, Double)].collect().toSet
    // append a shard, then search as a reader that excludes it: results
    // must be EXACTLY the pre-append answer (torn-shard isolation)
    graft.ops.IVF.appendVectors(spark, root, shard, "vec_id", "embedding", "s1")
    val excluded = search(Seq("s1"))
    assert(excluded.as[(Long, Long, Double)].collect().toSet == baseOnly)
    // without the exclusion the new shard's vectors are visible
    assert(search(Nil).as[(Long, Long, Double)].collect().toSet != baseOnly)
    // the exclusion must land as a partition filter on ingest_shard
    // (excluded leaves never read), not a post-scan row filter
    excluded.collect()
    val plan = excluded.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*ingest_shard".r.findFirstIn(plan)
      .isDefined, plan.take(1200))
  }

  test("appendable IVF rebuild is crash-safe: readers recover from every swap window") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = graft.ops.IVF.train(emb, "vec_id", "embedding", nc = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ivf_crash").toString + "/idx"
    graft.ops.IVF.writeIndexAppendable(
      graft.ops.IVF.assign(emb, "embedding", model), root, model, "init")
    val queries = emb.filter($"vec_id".isin(0L, 7L))
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    def results = graft.ops.IVF.searchBatchAppendable(spark, root, queries,
      "vec_id", "embedding", "query_id", k = 8, nprobe = 3)
      .as[(Long, Long, Double)].collect().toSet
    val ref = results
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // window 1 — death mid-stage: a partial __stage sits beside the live
    // root. Readers must be untouched by it (and must NOT delete it: it is
    // indistinguishable from a concurrent build's in-flight stage).
    fs.mkdirs(p(s"${root}__stage/vectors"))
    assert(results == ref)
    assert(fs.exists(p(s"${root}__stage")), "reader must not delete a stage")
    // window 2 — death between retire and promote: live generation at
    // __old, target missing, completed-or-partial stage present. Readers
    // heal by restoring the retired generation.
    require(fs.rename(p(root), p(s"${root}__old")))
    assert(results == ref, "reader must restore the retired generation")
    assert(fs.exists(p(root)) && !fs.exists(p(s"${root}__old")))
    // window 3 — death between promote and old-cleanup: both target (new
    // generation) and __old exist. Readers use the target and drop the
    // fully-superseded retiree.
    fs.mkdirs(p(s"${root}__old"))
    assert(results == ref)
    assert(!fs.exists(p(s"${root}__old")), "superseded retiree must be dropped")
    // and the next WRITER absorbs all debris: rebuild over the healed root
    fs.delete(p(s"${root}__stage"), true)
    graft.ops.IVF.writeIndexAppendable(
      graft.ops.IVF.assign(emb, "embedding", model), root, model, "init")
    assert(results == ref)
    assert(!fs.exists(p(s"${root}__stage")) && !fs.exists(p(s"${root}__old")))
  }

  test("IVF deletes: tombstones mask search, replay idempotent, compact applies and clears") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = graft.ops.IVF.train(emb, "vec_id", "embedding", nc = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ivf_del").toString + "/idx"
    graft.ops.IVF.writeIndexAppendable(
      graft.ops.IVF.assign(emb, "embedding", model), root, model, "init")
    val queries = emb.filter($"vec_id".isin(3L, 7L))
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    def viaIndex = graft.ops.IVF.searchBatchAppendable(spark, root, queries,
      "vec_id", "embedding", "query_id", k = 8, nprobe = 3)
      .as[(Long, Long, Double)].collect().toSet
    def refOver(surviving: org.apache.spark.sql.DataFrame) =
      graft.ops.IVF.searchBatch(
        graft.ops.IVF.assign(surviving, "embedding", model), queries,
        "vec_id", "embedding", "query_id", model, k = 8, nprobe = 3)
        .as[(Long, Long, Double)].collect().toSet
    // an EMPTY delete batch (matched zero ids) leaves a tombstone dir
    // with no partition leaves — reads must survive it, not die on
    // schema inference
    graft.ops.IVF.deleteVectors(spark, root,
      emb.filter($"vec_id" < 0), "vec_id", "d0")
    assert(viaIndex == refOver(emb), "empty delete must be a no-op")
    val doomed = emb.filter($"vec_id" % 10 === 0)
    graft.ops.IVF.deleteVectors(spark, root, doomed, "vec_id", "d1")
    val ref1 = refOver(emb.filter($"vec_id" % 10 =!= 0))
    assert(viaIndex == ref1, "tombstones must mask search results")
    // crash-replay of the same delete shard converges (dynamic overwrite)
    graft.ops.IVF.deleteVectors(spark, root, doomed, "vec_id", "d1")
    assert(spark.read.parquet(s"$root/tombstones").count() == doomed.count())
    assert(viaIndex == ref1)
    // a second delete shard accumulates
    graft.ops.IVF.deleteVectors(spark, root,
      emb.filter($"vec_id" % 10 === 1), "vec_id", "d2")
    val ref2 = refOver(emb.filter($"vec_id" % 10 > 1))
    assert(viaIndex == ref2)
    // a REBUILD over the root carries pending tombstones into the new
    // generation: erased ids must stay erased across re-training
    graft.ops.IVF.writeIndexAppendable(
      graft.ops.IVF.assign(emb, "embedding", model), root, model, "init")
    assert(viaIndex == ref2, "rebuild must not resurface deleted ids")
    // compact: physically applies tombstones, clears them, collapses the
    // per-shard dirs, and changes no answer
    graft.ops.IVF.compactVectors(spark, root, "vec_id", "c1")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/tombstones")))
    val live = spark.read.parquet(s"$root/vectors")
    assert(live.count() == emb.filter($"vec_id" % 10 > 1).count())
    assert(live.select("ingest_shard").distinct()
      .as[String].collect().toSeq == Seq("c1"))
    assert(viaIndex == ref2, "compaction must not change answers")
    // death between retire and promote mid-compact: readers heal
    require(fs.rename(new org.apache.hadoop.fs.Path(root),
      new org.apache.hadoop.fs.Path(s"${root}__old")))
    assert(viaIndex == ref2, "reader must restore the retired generation")
  }

  test("indexStats: live/dead/shard accounting across the append-delete-compact lifecycle") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = graft.ops.IVF.train(emb, "vec_id", "embedding", nc = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ivf_stats")
      .toString + "/idx"
    val base = emb.filter($"vec_id" % 5 =!= 0)
    graft.ops.IVF.writeIndexAppendable(
      graft.ops.IVF.assign(base, "embedding", model), root, model, "base")
    def stats = graft.ops.IVF.indexStats(spark, root, "vec_id")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    // one row per centroid, totals match the ingested corpus, no dead rows
    val s0 = stats
    assert(s0.map(_._1).toSeq == (0 until 8), s0.toSeq)
    assert(s0.map(_._2).sum == base.count() && s0.forall(_._3 == 0L))
    // per-centroid live counts equal a direct recompute from assign()
    val direct = graft.ops.IVF.assign(base, "embedding", model)
      .groupBy("centroid_id").count()
      .as[(Int, Long)].collect().toMap
    s0.foreach { case (cid, live, _, _) =>
      assert(live == direct.getOrElse(cid, 0L), cid) }
    // append a shard -> shard counts rise; delete -> rows move live->dead
    graft.ops.IVF.appendVectors(spark, root,
      emb.filter($"vec_id" % 5 === 0), "vec_id", "embedding", "s1")
    val doomed = emb.filter($"vec_id" % 10 === 0)
    graft.ops.IVF.deleteVectors(spark, root, doomed, "vec_id", "d1")
    val s1 = stats
    assert(s1.map(_._2).sum == emb.count() - doomed.count(), s1.toSeq)
    assert(s1.map(_._3).sum == doomed.count(), s1.toSeq)
    // compaction reclaims the dead rows and collapses shard dirs
    graft.ops.IVF.compactVectors(spark, root, "vec_id", "c1")
    val s2 = stats
    assert(s2.map(_._2).sum == emb.count() - doomed.count(), s2.toSeq)
    assert(s2.forall(_._3 == 0L), s2.toSeq)
    assert(s2.filter(_._2 > 0).forall(_._4 == 1L), s2.toSeq)
  }

  test("splitList: hot list re-clusters, retired slot never re-assigned, search exact") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.filter($"vec_id" % 7 =!= 0)
    val model = graft.ops.IVF.train(base, "vec_id", "embedding", nc = 4, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ivf_split")
      .toString + "/idx"
    graft.ops.IVF.writeIndexAppendable(
      graft.ops.IVF.assign(base, "embedding", model), root, model, "base")
    // id-deletes BEFORE the split: tombstoned rows of the hot list must
    // not ride into the copies (the split re-clusters LIVE rows only)
    val doomed = base.filter($"vec_id" % 10 === 4)
    graft.ops.IVF.deleteVectors(spark, root, doomed, "vec_id", "d1")
    val hot = graft.ops.IVF.indexStats(spark, root, "vec_id")
      .orderBy($"n_live".desc, $"centroid_id").head.getInt(0)
    val hotLive = graft.ops.IVF.indexStats(spark, root, "vec_id")
      .filter($"centroid_id" === hot).head.getLong(1)
    val post = graft.ops.IVF.splitList(spark, root, hot, kSplit = 3,
      "vec_id", "embedding", "sp1")
    // model shape: 3 sub-centroids appended, retired slot duplicates the
    // first one (assignment ties to the HIGHEST cid -> never wins again)
    assert(post.nc == model.nc + 3)
    assert(post.centroids(hot).sameElements(post.centroids(model.nc)))
    // the persisted model is the returned one
    assert(graft.ops.IVF.readModel(spark, root).centroids.map(_.toSeq).toSeq ==
      post.centroids.map(_.toSeq).toSeq)
    // stats: retired list fully dead, live rows conserved across sub-lists
    val st = graft.ops.IVF.indexStats(spark, root, "vec_id")
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(st(hot)._2 == 0L && st(hot)._3 >= hotLive, st(hot))
    // conservation is per SHARD: a boundary vector whose old centroid
    // vanished may re-assign to a neighboring ORIGINAL list — the copy
    // shard as a whole carries exactly the live rows, none at the
    // retired slot
    val copies = spark.read.parquet(s"$root/vectors")
      .filter($"ingest_shard" === "sp1")
    assert(copies.count() == hotLive)
    assert(copies.filter($"centroid_id" === hot).isEmpty)
    // search equals probe semantics over the index's ACTUAL placement:
    // frozen base assignment outside the split list, post-split
    // assignment for its live rows; id-tombstones masked everywhere
    val queries = emb.filter($"vec_id".isin(2L, 9L))
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    def viaIndex = graft.ops.IVF.searchBatchAppendable(spark, root, queries,
      "vec_id", "embedding", "query_id", k = 8, nprobe = 3)
      .as[(Long, Long, Double)].collect().toSet
    val live = base.join(doomed.select($"vec_id".as("__d")),
      $"vec_id" === $"__d", "left_anti")
    val oldAssigned = graft.ops.IVF.assign(live, "embedding", model)
    val refAssigned = oldAssigned.filter($"centroid_id" =!= hot)
      .unionByName(graft.ops.IVF.assign(
        oldAssigned.filter($"centroid_id" === hot).drop("centroid_id"),
        "embedding", post))
    val ref = graft.ops.IVF.searchBatch(refAssigned, queries,
      "vec_id", "embedding", "query_id", post, k = 8, nprobe = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaIndex == ref, "post-split search must match the placement")
    // the retired list prunes at the scan; its rows are still on disk
    val planStr = graft.ops.IVF.searchBatchAppendable(spark, root, queries,
      "vec_id", "embedding", "query_id", k = 8, nprobe = 3)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r
      .findFirstIn(planStr).isDefined, planStr.take(600))
    assert(spark.read.parquet(s"$root/vectors")
      .filter($"centroid_id" === hot).count() > 0)
    // appends after the split assign with the post-split model and can
    // never route into the retired slot
    graft.ops.IVF.appendVectors(spark, root,
      emb.filter($"vec_id" % 7 === 0), "vec_id", "embedding", "s1")
    assert(spark.read.parquet(s"$root/vectors")
      .filter($"ingest_shard" === "s1" && $"centroid_id" === hot).isEmpty,
      "retired slot must tie-lose every assignment")
    // compaction drops the dead list physically and changes no answer
    val preCompact = viaIndex
    graft.ops.IVF.compactVectors(spark, root, "vec_id", "c1")
    assert(spark.read.parquet(s"$root/vectors")
      .filter($"centroid_id" === hot).isEmpty)
    assert(viaIndex == preCompact, "compaction must not change answers")
  }

  test("splitList: replay converges from every crash state; guards hold") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = graft.ops.IVF.train(emb, "vec_id", "embedding", nc = 4, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ivf_split_replay")
      .toString + "/idx"
    graft.ops.IVF.writeIndexAppendable(
      graft.ops.IVF.assign(emb, "embedding", model), root, model, "base")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // torn centroid stage (no _SUCCESS): the READ path leaves it
    // strictly alone — a reader cannot tell a crashed split's debris
    // from a CONCURRENT splitList's in-flight stage, and deleting the
    // latter would destroy a live writer's work (advisor r13). The
    // single writer overwrites the debris at its next run (asserted
    // below: the real splitList call succeeds over this junk stage).
    val stage = new org.apache.hadoop.fs.Path(s"$root/centroids__split")
    fs.mkdirs(stage)
    assert(graft.ops.IVF.readModel(spark, root).nc == model.nc)
    assert(fs.exists(stage),
      "a no-_SUCCESS stage must survive the read path untouched")
    val hot = graft.ops.IVF.indexStats(spark, root, "vec_id")
      .orderBy($"n_live".desc, $"centroid_id").head.getInt(0)
    val queries = emb.filter($"vec_id".isin(1L, 5L))
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    def viaIndex = graft.ops.IVF.searchBatchAppendable(spark, root, queries,
      "vec_id", "embedding", "query_id", k = 8, nprobe = 3)
      .as[(Long, Long, Double)].collect().toSet
    val post = graft.ops.IVF.splitList(spark, root, hot, kSplit = 3,
      "vec_id", "embedding", "sp1")
    val answer = viaIndex
    // crash BEFORE the tombstone (steps 1+2 done, 3 lost): the replay
    // must detect the already-swapped centroids BY VALUE and not extend
    // the model a second time
    val tombLeaf = new org.apache.hadoop.fs.Path(
      s"$root/tombstones/delete_shard=split_sp1")
    require(fs.exists(tombLeaf)); fs.delete(tombLeaf, true)
    val replay1 = graft.ops.IVF.splitList(spark, root, hot, kSplit = 3,
      "vec_id", "embedding", "sp1")
    assert(replay1.nc == post.nc, "replay must not double-extend")
    assert(viaIndex == answer)
    // replay of the COMPLETED split short-circuits on the tombstone
    val replay2 = graft.ops.IVF.splitList(spark, root, hot, kSplit = 3,
      "vec_id", "embedding", "sp1")
    assert(replay2.nc == post.nc && viaIndex == answer)
    // guards: out-of-range list, sub-list count above the live rows
    intercept[IllegalArgumentException] {
      graft.ops.IVF.splitList(spark, root, post.nc + 5, 2, "vec_id",
        "embedding", "g1")
    }
    // replaying the retired list with a DIFFERENT kSplit still
    // short-circuits (tombstone wins before any guard)
    assert(graft.ops.IVF.splitList(spark, root, hot, 2, "vec_id",
      "embedding", "g2").nc == post.nc)
    // a list with fewer live rows than kSplit refuses loudly
    val small = graft.ops.IVF.indexStats(spark, root, "vec_id")
      .filter($"n_live" > 0).orderBy($"n_live", $"centroid_id")
      .head()
    intercept[IllegalArgumentException] {
      graft.ops.IVF.splitList(spark, root, small.getInt(0),
        (small.getLong(1) + 1).toInt.max(2), "vec_id", "embedding", "g3")
    }
  }

  test("centroid swap heals from every retire/promote crash state; liveVectors masks splits") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = graft.ops.IVF.train(emb, "vec_id", "embedding", nc = 4, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ivf_swap_states")
      .toString + "/idx"
    graft.ops.IVF.writeIndexAppendable(
      graft.ops.IVF.assign(emb, "embedding", model), root, model, "base")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$root/centroids")
    val retired = new org.apache.hadoop.fs.Path(s"$root/centroids__retired")
    val stage = new org.apache.hadoop.fs.Path(s"$root/centroids__split")
    def centroidsDf = spark.read.parquet(live.toString)
    // state A — crash between promote and retiree cleanup (live=new,
    // retired=old, stage consumed): the read path clears the orphan
    centroidsDf.write.parquet(retired.toString)
    assert(graft.ops.IVF.readModel(spark, root).nc == model.nc)
    assert(!fs.exists(retired), "orphaned retiree must be cleaned")
    // state B — crash between retire and promote (stage complete with
    // _SUCCESS, live missing, retiree holding the old generation): the
    // read path promotes the stage and clears the retiree
    centroidsDf.write.parquet(stage.toString)
    assert(fs.rename(live, retired))
    assert(graft.ops.IVF.readModel(spark, root).nc == model.nc)
    assert(fs.exists(live) && !fs.exists(stage) && !fs.exists(retired))
    // state C — defensive: retiree present, live and stage both gone
    // (unreachable by the protocol's own states): restore, never leave
    // the index headless
    assert(fs.rename(live, retired))
    assert(graft.ops.IVF.readModel(spark, root).nc == model.nc)
    assert(fs.exists(live) && !fs.exists(retired))
    // liveVectors: after a split, the raw vectors tree physically holds
    // the retired list's rows AND their sub-list copies — the masked
    // reader (the documented rebuild input) must see every id exactly
    // once, and must drop id-tombstoned rows too
    val hot = graft.ops.IVF.indexStats(spark, root, "vec_id")
      .orderBy($"n_live".desc, $"centroid_id").head.getInt(0)
    graft.ops.IVF.splitList(spark, root, hot, kSplit = 2,
      "vec_id", "embedding", "sp1")
    val deadId = emb.select($"vec_id").orderBy($"vec_id").head.getLong(0)
    graft.ops.IVF.deleteVectors(spark, root,
      Seq(deadId).toDF("vec_id"), "vec_id", "del1")
    val total = emb.count()
    val raw = spark.read.parquet(s"$root/vectors")
    assert(raw.count() > total, "split copies must be physically present")
    val lv = graft.ops.IVF.liveVectors(spark, root, "vec_id")
    assert(lv.count() == total - 1, "masked reader: each live id once")
    assert(lv.select($"vec_id").distinct().count() == total - 1)
    assert(lv.filter($"vec_id" === deadId).isEmpty)
    assert(!lv.columns.contains("centroid_id") &&
      !lv.columns.contains("ingest_shard"))
  }

  test("appendVectors refuses tombstoned ids; compaction unblocks re-ingest") {
    // the mask is keyed on id alone, so a re-appended replacement for a
    // tombstoned id would be silently invisible to every search until
    // compaction — the guard turns that silent loss into a loud refusal
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = graft.ops.IVF.train(emb, "vec_id", "embedding", nc = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ivf_tomb_re")
      .toString + "/idx"
    graft.ops.IVF.writeIndexAppendable(
      graft.ops.IVF.assign(emb.filter($"vec_id" % 5 =!= 0), "embedding",
        model), root, model, "base")
    graft.ops.IVF.deleteVectors(spark, root,
      emb.filter($"vec_id" === 10), "vec_id", "d1")
    val replacement = emb.filter($"vec_id" === 10)
    val err = intercept[IllegalArgumentException] {
      graft.ops.IVF.appendVectors(spark, root, replacement, "vec_id",
        "embedding", "s1")
    }
    assert(err.getMessage.contains("compactVectors"))
    // non-clashing appends stay unaffected while tombstones exist
    graft.ops.IVF.appendVectors(spark, root,
      emb.filter($"vec_id" === 15), "vec_id", "embedding", "s2")
    // after compaction the tombstone is gone: the replacement ingests
    // and is live in search results
    graft.ops.IVF.compactVectors(spark, root, "vec_id", "c1")
    graft.ops.IVF.appendVectors(spark, root, replacement, "vec_id",
      "embedding", "s3")
    val q = emb.filter($"vec_id" === 10)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val hits = graft.ops.IVF.searchBatchAppendable(spark, root, q,
        "vec_id", "embedding", "query_id", k = 3, nprobe = 8)
      .filter($"vec_id" === 10).count()
    assert(hits == 1L, "re-appended id must be live after compaction")
  }

  test("embeddingHealth: collapse, broken-encoder, and dim-drift signals all fire") {
    val nan = Float.NaN
    val df = Seq(
      ("ok", Seq(3.0f, 4.0f)), ("ok", Seq(0.6f, 0.8f)),     // norms 5, 1
      ("bad", Seq(0.0f, 0.0f)),                             // zero vector
      ("bad", Seq(nan, 1.0f)),                              // non-finite
      ("drift", Seq(1.0f)), ("drift", Seq(1.0f, 0.0f, 0.0f)) // mixed dims
    ).toDF("grp", "vec")
    // norm stats are Option: a group with ONE finite vector has a NULL
    // sample stddev (and the NaN vector no longer poisons the mean — it
    // is excluded as non-finite, r9 advisory)
    val out = graft.ops.Similarity.embeddingHealth(df, "grp", "vec")
      .as[(String, Long, Option[Double], Option[Double], Long, Long, Int, Int)]
      .collect().map(r => r._1 -> r).toMap
    assert(out("ok") ==
      (("ok", 2L, Some(3.0), Some(2.828427), 0L, 0L, 2, 2)), out("ok"))
    val bad = out("bad")
    assert(bad._5 == 1L && bad._6 == 1L, bad)   // one zero, one non-finite
    assert(bad._3 == Some(0.0) && bad._4.isEmpty, bad) // NaN row excluded
    assert(out("drift")._7 == 1 && out("drift")._8 == 3, out("drift"))
    // vectors never shuffle: the only exchange carries the group aggregate
    val plan = graft.ops.Similarity.embeddingHealth(df, "grp", "vec")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("vec#") ||
      !"Exchange[^\\n]*vec#".r.findFirstIn(plan).isDefined, plan)
  }

  test("embeddingHealth: ±Infinity vectors count as non-finite and stay out of the norm stats") {
    // r9 advisory: the finite predicate only caught NaN/null, so an Inf
    // vector (a real broken-encoder output) passed as "finite" and its
    // Infinity norm silently destroyed norm_mean/norm_std. Now it must
    // land in n_nonfinite and be EXCLUDED from the norm aggregate.
    val df = Seq(
      ("g", Seq(3.0f, 4.0f)),                           // norm 5
      ("g", Seq(Float.PositiveInfinity, 1.0f)),         // +Inf element
      ("g", Seq(Float.NegativeInfinity, 0.0f)),         // -Inf element
      ("g", Seq(0.0f, 0.0f))                            // zero vector
    ).toDF("grp", "vec")
    val r = graft.ops.Similarity.embeddingHealth(df, "grp", "vec")
      .as[(String, Long, Option[Double], Option[Double], Long, Long, Int, Int)]
      .head()
    assert(r._2 == 4L, r)                 // all rows counted
    assert(r._6 == 2L, r)                 // both Inf vectors non-finite
    assert(r._3 == Some(2.5), r)          // mean over {5, 0} only — finite
    assert(r._5 == 1L, r)                 // the zero vector, once
    assert(r._3.forall(v => !v.isInfinite) && r._4.forall(v => !v.isNaN), r)
  }

  test("semanticDedup: literal-argmax and large-nc join assignment paths agree") {
    // nc <= 64 burns the argmax into one literal expression; above that
    // the broadcast-join + partial-agg path runs (the literal form blows
    // Janino's 64KB method limit at nc=256 — found by CorpusBuildSmoke).
    // Same 5-vector fixture as the semantics test, once with 2 centroids
    // (literal path) and once padded to 66 with never-winning decoys
    // (join path): every output column must agree row for row.
    val emb = Seq(
      (1L, Seq(1.0, 0.01)), (2L, Seq(1.0, 0.02)), (3L, Seq(0.02, 1.0)),
      (4L, Seq(0.7, 0.72)), (5L, Seq(0.72, 0.7))
    ).toDF("vec_id", "v")
    val real = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
    val decoys = (2L until 66L).map(i => (i, Seq(-1.0, -1.0 - i * 0.01)))
    def run(cs: Seq[(Long, Seq[Double])]) =
      Dedup.semanticDedup(emb, "vec_id", "v",
          cs.toDF("cid", "cv"), "cid", "cv", 0.99)
        .select("vec_id", "cluster_id", "centroid_sim", "is_dup", "kept")
        .as[(Long, Long, Double, Boolean, Boolean)].collect().sortBy(_._1)
    val small = run(real)
    val large = run(real ++ decoys)
    assert(small.toSeq == large.toSeq,
      s"paths diverged:\n small=${small.toSeq}\n large=${large.toSeq}")
  }

  test("semanticDedup: empty input with maxClusterSize set passes through, no crash") {
    // r9 advisory: the guard called .head() on the count-by-cluster
    // aggregate, so an EMPTY input threw NoSuchElementException instead
    // of returning the empty frame
    val emb = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "v")
    val cents = Seq((0L, Seq(1.0, 0.0))).toDF("cid", "cv")
    val out = Dedup.semanticDedup(emb, "vec_id", "v", cents, "cid", "cv",
      0.99, maxClusterSize = 10L)
    assert(out.count() == 0L)
  }

  test("indexStats: an id tombstoned by two overlapping delete shards counts dead ONCE") {
    // r9 advisory: deleteVectors dedupes tomb_id only within one call;
    // overlapping GDPR batches leave the same id in two delete_shard
    // partitions, and a non-distinct left join inflated n_dead (and the
    // row totals) silently
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = graft.ops.IVF.train(emb, "vec_id", "embedding", nc = 4, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ivf_twodel")
      .toString + "/idx"
    graft.ops.IVF.writeIndexAppendable(
      graft.ops.IVF.assign(emb, "embedding", model), root, model, "base")
    graft.ops.IVF.deleteVectors(spark, root,
      emb.filter($"vec_id" % 10 === 0), "vec_id", "d1")
    graft.ops.IVF.deleteVectors(spark, root,
      emb.filter($"vec_id" % 20 === 0), "vec_id", "d2") // subset of d1
    val s = graft.ops.IVF.indexStats(spark, root, "vec_id")
      .as[(Int, Long, Long, Long)].collect()
    val doomed = emb.filter($"vec_id" % 10 === 0).count()
    assert(s.map(_._3).sum == doomed, s.toSeq)           // dead counted once
    assert(s.map(_._2).sum == emb.count() - doomed, s.toSeq)
  }

  test("meanPoolVectors: per-position means, ragged positions, assemble round trip") {
    val df = Seq(
      ("A", Seq(1.0f, 2.0f)), ("A", Seq(3.0f, 4.0f)),
      ("B", Seq(1.0f)), ("B", Seq(3.0f, 5.0f))   // ragged: pos 1 has ONE vector
    ).toDF("grp", "vec")
    val pooled = graft.ops.Similarity.meanPoolVectors(df, "grp", "vec")
    val rows = pooled.as[(String, Int, Double)].collect().toSet
    assert(rows == Set(
      ("A", 0, 2.0), ("A", 1, 3.0),
      ("B", 0, 2.0), ("B", 1, 5.0)), rows)
    val asm = graft.ops.Similarity.assemblePooled(pooled)
      .as[(String, Seq[Double])].collect().toMap
    assert(asm == Map("A" -> Seq(2.0, 3.0), "B" -> Seq(2.0, 5.0)), asm)
  }

  test("hardNegatives: positives never surface, k is filled, ranks match filter-then-rank") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val pos = q.select($"query_id", $"query_id".as("vec_id"))
      .unionByName(q.select($"query_id", ($"query_id" + 7).as("vec_id")))
    val out = graft.ops.Similarity.hardNegatives(emb, q, pos, "vec_id",
      "embedding", "query_id", k = 10)
    val rows = out.select("query_id", "vec_id", "cosine_sim")
      .as[(Long, Long, Double)].collect()
    assert(rows.length == 30)
    // no positive leaks through (the self-vector is every query's top-1,
    // so this is the hard case, not a vacuous one)
    rows.foreach { case (qid, vid, _) =>
      assert(vid != qid && vid != qid + 7, (qid, vid)) }
    // per-query reference: rank AFTER removing that query's positives
    (0L until 3L).foreach { qid =>
      val ref = graft.ops.Similarity.bruteForceKnn(
        emb.filter($"vec_id" =!= qid && $"vec_id" =!= qid + 7),
        emb.filter($"vec_id" === qid).select($"embedding".as("qvec")),
        "vec_id", "embedding", 10)
        .as[(Long, Double)].collect().toSeq
      val got = rows.filter(_._1 == qid).sortBy(r => (-r._3, r._2))
        .map(r => (r._2, r._3)).toSeq
      assert(got == ref, s"query $qid")
    }
  }

  test("hardNegativesApprox: positives excluded pre-selection, equals lsh-filter-then-rank") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val pos = q.select($"query_id", $"query_id".as("vec_id"))
      .unionByName(q.select($"query_id", ($"query_id" + 7).as("vec_id")))
    val rows = graft.ops.Similarity.hardNegativesApprox(emb, q, pos,
        "vec_id", "embedding", "query_id", k = 10, planes = 4)
      .as[(Long, Long, Double)].collect()
    // the self-vector shares its own bucket by construction — exclusion
    // is exercised for real, and never leaks
    rows.foreach { case (qid, vid, _) =>
      assert(vid != qid && vid != qid + 7, (qid, vid)) }
    // reference: same-bucket candidates ranked after a manual positive
    // filter — per query, via the single-query lshKnn on a pre-filtered
    // corpus (multi-probe widens both paths identically)
    (0L until 3L).foreach { qid =>
      val ref = graft.ops.Similarity.lshKnn(
          emb.filter($"vec_id" =!= qid && $"vec_id" =!= qid + 7),
          emb.filter($"vec_id" === qid).select($"embedding".as("qvec")),
          "vec_id", "embedding", 10, planes = 4)
        .as[(Long, Double)].collect().toSeq
      val got = rows.filter(_._1 == qid).sortBy(r => (-r._3, r._2))
        .map(r => (r._2, r._3)).toSeq
      assert(got == ref, s"query $qid")
    }
  }

  test("batched kNN equals N single-query calls (brute force, LSH, IVF)") {
    // the batch searchers are the production retrieval surface; this pins
    // each one to the corresponding single-query baseline over real vectors
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qids = Seq(0L, 7L, 13L)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    def single(fn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Map[Long, Seq[(Long, Double)]] =
      qids.map { qid =>
        qid -> fn(emb.filter(col("vec_id") === qid).select(col("embedding").as("qvec")))
          .select("vec_id", "cosine_sim").as[(Long, Double)].collect().toSeq
      }.toMap
    def batched(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double)]] =
      df.select("query_id", "vec_id", "cosine_sim").as[(Long, Long, Double)]
        .collect().toSeq.groupBy(_._1)
        .map { case (q, rows) => q -> rows.map(r => (r._2, r._3))
          .sortBy(r => (-r._2, r._1)) }
    val bruteSingle = single(q => Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", 8))
    val bruteBatch = batched(
      Similarity.bruteForceKnnBatch(emb, queries, "vec_id", "embedding", "query_id", 8))
    assert(bruteBatch == bruteSingle)
    val lshSingle = single(q => Similarity.lshKnn(emb, q, "vec_id", "embedding", 8, planes = 4))
    val lshBatch = batched(
      Similarity.lshKnnBatch(emb, queries, "vec_id", "embedding", "query_id", 8, planes = 4))
    assert(lshBatch == lshSingle)
    val model = graft.ops.IVF.train(emb, "vec_id", "embedding", nc = 8, iters = 2)
    val assigned = graft.ops.IVF.assign(emb, "embedding", model)
    val ivfSingle = single(q =>
      graft.ops.IVF.search(assigned, q, "vec_id", "embedding", model, 8, nprobe = 3))
    val ivfBatch = batched(graft.ops.IVF.searchBatch(assigned, queries,
      "vec_id", "embedding", "query_id", model, 8, nprobe = 3))
    assert(ivfBatch == ivfSingle)
  }

  test("multi-probe widens the candidate set (recall >= exact-bucket recall)") {
    val q = vecs.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    val exact = Similarity.lshKnn(vecs, q, "vec_id", "embedding", 5,
      planes = 4, multiProbe = false).select("vec_id").as[Long].collect().toSet
    val probed = Similarity.lshKnn(vecs, q, "vec_id", "embedding", 5,
      planes = 4, multiProbe = true).select("vec_id").as[Long].collect().toSet
    assert(exact.subsetOf(probed))
  }

  test("mmrSelect: relevance-first pick, diversity beats redundancy, ties and guards") {
    // three near-identical high-rel vectors + one diverse mid-rel vector:
    // pure relevance ranks the clones 1-2-3; MMR must interleave diversity
    val cands = Seq(
      (1L, 0.99, Seq(1.0, 0.0, 0.0)),
      (2L, 0.98, Seq(0.999, 0.01, 0.0)),
      (3L, 0.97, Seq(0.998, 0.02, 0.0)),
      (4L, 0.60, Seq(0.0, 1.0, 0.0))
    ).toDF("id", "rel", "v")
    val out = Similarity.mmrSelect(cands, "id", "rel", "v", k = 3,
      lambda = 0.5).as[(Long, Int, Double)].collect().sortBy(_._2)
    assert(out(0)._1 == 1L)                       // argmax relevance first
    assert(out(1)._1 == 4L, out.toSeq)            // diversity beats clone 2
    assert(out.length == 3)
    // k > n selects everything once
    assert(Similarity.mmrSelect(cands, "id", "rel", "v", k = 10).count() == 4)
    // exact ties break to the lowest id
    val tied = Seq((7L, 0.5, Seq(1.0, 0.0)), (3L, 0.5, Seq(0.0, 1.0)))
      .toDF("id", "rel", "v")
    assert(Similarity.mmrSelect(tied, "id", "rel", "v", k = 1)
      .as[(Long, Int, Double)].head()._1 == 3L)
    // the corpus guard fail-fasts
    val big = spark.range(0, 50).select($"id", lit(1.0).as("rel"),
      array(lit(1.0), lit(0.0)).as("v"))
    intercept[IllegalArgumentException] {
      Similarity.mmrSelect(big, "id", "rel", "v", k = 2, maxCandidates = 10)
    }
  }
}

class SketchSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("approx_count_distinct stays within its error bound vs exact") {
    val df = (0L until 20000L).map(i => i % 7919).toDF("v")
    val (approx, exact) = df
      .agg(approx_count_distinct($"v", 0.02).as("a"), countDistinct($"v").as("e"))
      .as[(Long, Long)].head()
    assert(exact == 7919L)
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"approx=$approx")
  }
}

class CountMinSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.ops.CountMin

  private def toks(rows: Seq[String]) = rows.toDF("t")

  test("Md5CmsBuckets: native bucket indices equal the replaced column spelling") {
    // r16 rewrite pin: bucket i = top-32-bits(md5("cms<i>_" + tok)) mod
    // width, previously spelled pmod(conv(substring(md5(concat(...)),
    // 1, 8), 16, 10), width) per i, interpreted.
    val toks = Seq("alpha", "beta", "", "中文", "🙂x", "tok123").toDF("t")
    for ((depth, width) <- Seq((4, 1024), (5, 7), (1, 2))) {
      val native = toks.select($"t",
        graft.functions.Md5ShingleFunctions
          .md5_cms_buckets($"t", depth, width).as("b"))
      val old = toks.select($"t", array((0 until depth).map(i =>
        pmod(conv(substring(md5(concat(lit(s"cms${i}_"), $"t")
          .cast("binary")), 1, 8), 16, 10).cast("long"),
          lit(width.toLong)).cast("int")): _*).as("b"))
      assert(native.exceptAll(old).count() === 0L)
      assert(old.exceptAll(native).count() === 0L)
    }
  }

  test("count-min never undercounts; exact at collision-free width; unseen is 0") {
    val occurrences = Seq.fill(5)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma")
    val sk = CountMin.build(toks(occurrences), "t", depth = 4, width = 4096)
    assert(sk.total == 9L)
    val probe = Seq("alpha", "beta", "gamma", "unseen").toDF("t")
    val est = probe.select($"t", CountMin.estimateExpr($"t", sk).as("e"))
      .as[(String, Long)].collect().toMap
    assert(est("alpha") == 5L && est("beta") == 3L && est("gamma") == 1L)
    assert(est("unseen") == 0L)
    // a tiny width forces collisions: estimates may only go UP
    val tiny = CountMin.build(toks(occurrences), "t", depth = 4, width = 2)
    val estTiny = probe.select($"t", CountMin.estimateExpr($"t", tiny).as("e"))
      .as[(String, Long)].collect().toMap
    assert(estTiny("alpha") >= 5L && estTiny("beta") >= 3L && estTiny("gamma") >= 1L)
  }

  test("count-min sketches merge elementwise: sketch(A++B) == merge(sketch(A), sketch(B))") {
    val a = Seq.fill(4)("x") ++ Seq("y")
    val b = Seq.fill(2)("y") ++ Seq("z", "x")
    val whole = CountMin.build(toks(a ++ b), "t", depth = 3, width = 64)
    val merged = CountMin.build(toks(a), "t", depth = 3, width = 64)
      .merge(CountMin.build(toks(b), "t", depth = 3, width = 64))
    assert(whole.counts.map(_.toSeq).toSeq == merged.counts.map(_.toSeq).toSeq)
    assert(merged.total == 9L)
    // dimension mismatch refuses loudly
    intercept[IllegalArgumentException] {
      whole.merge(CountMin.build(toks(a), "t", depth = 3, width = 32))
    }
  }

  test("count-min persisted store: round-trip exact; two-shard ingest equals one-shot") {
    val a = Seq.fill(6)("p") ++ Seq("q", "r")
    val b = Seq.fill(3)("q") ++ Seq("p")
    val dir = java.nio.file.Files.createTempDirectory("cms_store").toString + "/sk"
    val skA = CountMin.build(toks(a), "t", depth = 3, width = 64)
    CountMin.write(spark, skA, dir)
    val back = CountMin.read(spark, dir)
    assert(back.counts.map(_.toSeq).toSeq == skA.counts.map(_.toSeq).toSeq)
    // ingest shard B: persisted state must equal the one-shot sketch of A++B
    CountMin.ingest(spark, dir, CountMin.build(toks(b), "t", depth = 3, width = 64))
    val merged = CountMin.read(spark, dir)
    val oneShot = CountMin.build(toks(a ++ b), "t", depth = 3, width = 64)
    assert(merged.counts.map(_.toSeq).toSeq == oneShot.counts.map(_.toSeq).toSeq)
    // dimension-mismatch shard refuses at the merge
    intercept[IllegalArgumentException] {
      CountMin.ingest(spark, dir, CountMin.build(toks(b), "t", depth = 2, width = 64))
    }
  }

  test("count-min store: an all-zero sketch round-trips and stays ingestable") {
    // the first micro-batch of a stream can tokenize to zero tokens; the
    // persisted all-zero sketch must carry its dimensions (not become an
    // empty parquet that read() rejects, wedging every later ingest)
    val dir = java.nio.file.Files.createTempDirectory("cms_zero").toString + "/sk"
    val zero = CountMin.build(toks(Seq.empty[String]), "t", depth = 3, width = 64)
    assert(zero.total == 0L)
    CountMin.write(spark, zero, dir)
    val back = CountMin.read(spark, dir)
    assert(back.depth == 3 && back.width == 64 && back.total == 0L)
    // ingest into the empty store works and equals the shard alone
    val shard = CountMin.build(toks(Seq("a", "a", "b")), "t", depth = 3, width = 64)
    CountMin.ingest(spark, dir, shard)
    assert(CountMin.read(spark, dir).counts.map(_.toSeq).toSeq ==
      shard.counts.map(_.toSeq).toSeq)
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("clusterBalancedSample: ≤k per cluster, small clusters whole, size audit") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = graft.ops.IVF.trainPortable(emb, "vec_id", "embedding",
      nc = 8, iters = 2)
    val out = graft.ops.Sampling
      .clusterBalancedSample(emb, "vec_id", "embedding", model, k = 10)
      .collect()
    val byCluster = out.groupBy(_.getLong(0))
    byCluster.foreach { case (cid, rows) =>
      val size = rows.head.getLong(3)
      assert(rows.forall(_.getLong(3) == size), s"cid=$cid size mismatch")
      assert(rows.length == math.min(10L, size), s"cid=$cid picks")
    }
    // the size audit column conserves the corpus: sizes sum to |emb|
    assert(byCluster.values.map(_.head.getLong(3)).sum == emb.count())
    // selection is the md5 rank order: re-running with another salt moves it
    val other = graft.ops.Sampling
      .clusterBalancedSample(emb, "vec_id", "embedding", model, k = 10,
        salt = 7L).collect()
    assert(other.map(r => (r.getLong(0), r.getLong(1))).toSet !=
      out.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("exactKPerGroup: exact counts, salt-keyed determinism, nested samples") {
    val df = spark.range(0, 1000)
      .select($"id".as("doc_id"),
        concat(lit("s"), pmod($"id", lit(7)).cast("string")).as("src"))
      // one tiny group (3 members) must survive whole
      .unionByName(Seq((9001L, "tiny"), (9002L, "tiny"), (9003L, "tiny"))
        .toDF("doc_id", "src"))
    def ids(k: Int, salt: Long) = graft.ops.Sampling
      .exactKPerGroup(df, "src", "doc_id", k, salt)
      .select($"src", $"doc_id").as[(String, Long)].collect().toSet
    val s5 = ids(5, 42L)
    // exactly k per group; sub-k groups kept whole
    val counts = s5.groupBy(_._1).view.mapValues(_.size).toMap
    assert((0 until 7).forall(i => counts(s"s$i") == 5), counts)
    assert(counts("tiny") == 3, counts)
    // deterministic: same call -> same set; different salt -> different set
    assert(ids(5, 42L) == s5)
    assert(ids(5, 7L) != s5)
    // nested: the k=5 sample is a subset of the k=9 sample (the ranking
    // key is per-row, so growing k only extends the selection)
    assert(s5.subsetOf(ids(9, 42L)))
  }

  test("budgetPrefixPerGroup: first-crossing kept, budgets nest, decisions deterministic") {
    val df = spark.range(0, 300)
      .select($"id".as("doc_id"),
        concat(lit("s"), pmod($"id", lit(3)).cast("string")).as("src"),
        (pmod($"id" * 37, lit(90)) + 10).as("tok"))  // 10..99 tokens
    def run(b: Long) = graft.ops.Sampling
      .budgetPrefixPerGroup(df, "src", "doc_id", "tok", b)
      .select($"src", $"doc_id", $"tok", $"cum_before", $"kept")
      .as[(String, Long, Long, Long, Boolean)].collect()
    val r = run(500L)
    // every row emitted; keep decision = prefix-start under budget
    assert(r.length == 300)
    r.foreach { case (_, _, _, cb, kept) => assert(kept == (cb < 500L)) }
    // per group: kept mass covers the budget (first-crossing convention)
    // but never exceeds it by a full doc
    r.groupBy(_._1).foreach { case (g, rows) =>
      val keptRows = rows.filter(_._5)
      val total = keptRows.map(_._3).sum
      assert(total >= 500L, s"$g undershoots: $total")
      // within one document of the budget: only the first-crossing doc
      // may stick out past it
      assert(total < 500L + keptRows.map(_._3).max, s"$g overshoots: $total")
    }
    // budgets NEST: the 500-token sample is a prefix of the 900-token one
    val kept500 = r.filter(_._5).map(_._2).toSet
    val kept900 = run(900L).filter(_._5).map(_._2).toSet
    assert(kept500.subsetOf(kept900))
    // determinism
    assert(run(500L).toSeq == r.toSeq)
  }

  test("leakageSafeSplit: clusters never straddle splits; naive id-split provably leaks") {
    import graft.ops.{Dedup, TextAnalysis}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val toks = TextAnalysis.tokens(col("text"))
    // the x26 3-chain fixture: doc <-> +10000 <-> +20000
    val corpus = docs.select($"doc_id", $"text")
      .unionByName(docs.filter($"doc_id" < 50).select(($"doc_id" + 10000).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), (size(toks) * 0.8).cast("int"))).as("text")))
      .unionByName(docs.filter($"doc_id" < 50).select(($"doc_id" + 20000).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), (size(toks) * 0.6).cast("int"))).as("text")))
    val cand = docs.filter($"doc_id" < 50)
      .select($"doc_id".as("id_a"), ($"doc_id" + 10000).as("id_b"))
      .unionByName(docs.filter($"doc_id" < 50)
        .select(($"doc_id" + 10000).as("id_a"), ($"doc_id" + 20000).as("id_b")))
    val labels = Dedup.resolveClusters(
      Dedup.ngramJaccard(cand, corpus, "doc_id", "text", n = 3)
        .filter($"jaccard" >= 0.5).select($"id_a", $"id_b"))
    val out = graft.ops.Sampling.leakageSafeSplit(
      corpus.select($"doc_id"), "doc_id", labels,
      trainBuckets = 12, valBuckets = 2)
    // THE invariant: no cluster contributes to two splits
    val straddling = out.groupBy("cluster_key")
      .agg(countDistinct("split").as("n")).filter($"n" > 1).count()
    assert(straddling == 0L)
    // all three splits are populated and singletons are present
    assert(out.select("split").distinct().count() == 3)
    assert(out.filter($"cluster_key" === $"doc_id".cast("string")).count() > 0)
    // counterfactual: the naive content/id hash split DOES tear clusters
    // apart — the leakage this operator exists to prevent is real on
    // this very fixture, not hypothetical
    val naive = graft.ops.Sampling.contentHashSplit(
        out.withColumn("__k", $"doc_id".cast("string")), "__k", 12, 2)
      .groupBy("cluster_key").agg(countDistinct("split").as("n"))
      .filter($"n" > 1).count()
    assert(naive > 0L, "fixture must demonstrate the naive-split leak")
  }

  test("perSourcePercentile: per-source ranks, tie sharing, single-row source pins 0") {
    val df = Seq(
      ("A", 1L, 0.1), ("A", 2L, 0.5), ("A", 3L, 0.5), ("A", 4L, 0.9),
      ("B", 5L, 0.99) // single-row source: percent_rank's degenerate 0.0
    ).toDF("src", "id", "score")
    val out = graft.ops.Sampling.perSourcePercentile(df, "src", "score")
      .select("id", "pct").as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 0.0, 2L -> 0.333333, 3L -> 0.333333,
      4L -> 1.0, 5L -> 0.0), out)
    // the window exchanges on the source key only — never a global sort
    val plan = graft.ops.Sampling.perSourcePercentile(df, "src", "score")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("hash sampling is deterministic and rate-accurate; mod sampling is exact") {
    val df = (0L until 10000L).toDF("id")
    val half = graft.ops.Sampling
      .stratifiedSampleByHash(df, "id", lit(0.5))
    val n1 = half.count(); val n2 = half.count()
    assert(n1 == n2) // rerun-stable
    assert(math.abs(n1 - 5000L) < 300, s"n=$n1") // ~Binomial(10000, .5)
    val mod = graft.ops.Sampling
      .stratifiedSampleByMod(df, "id", lit(0.25), den = 100)
    assert(mod.count() == 2500) // exact for full residue cycles
    // non-representable products stay exact via the rounded threshold:
    // 0.07 * 100 = 7.000000000000001 in IEEE — an unrounded comparison
    // would keep residue 7 too (8%, not 7%)
    assert(graft.ops.Sampling
      .stratifiedSampleByMod(df, "id", lit(0.07), den = 100)
      .count() == 700)
  }

  test("contentHashSplit is content-keyed, deterministic, and covers all splits") {
    val docs = (0 until 2000).map(i => (i.toLong, s"document body number $i"))
      .toDF("id", "text")
    val s1 = graft.ops.Sampling.contentHashSplit(docs, "text")
    val counts = s1.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(math.abs(counts("train") - 1750L) < 150) // ~14/16 of 2000
    // the leakage-control contract: identical content under DIFFERENT ids
    // must land in the same split (the split keys on content, not id)
    val s2 = graft.ops.Sampling
      .contentHashSplit(docs.withColumn("id", $"id" + 100000), "text")
    assert(s1.select("text", "split").except(s2.select("text", "split")).count() == 0)
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.contentHashSplit(docs, "text",
        trainBuckets = 15, valBuckets = 1) // no bucket left for test
    }
  }

  test("mixtureByTokenBudget caps each stratum near its token budget") {
    // stratum "big" has 10x the tokens of "small": big must be sampled
    // down toward the budget, small kept whole (rate clamps at 1.0)
    val docs = ((0 until 1000).map(i => (i.toLong, "big", 100L)) ++
      (1000 until 1100).map(i => (i.toLong, "small", 100L)))
      .toDF("id", "src", "tok")
    val out = graft.ops.Sampling
      .mixtureByTokenBudget(docs, "src", "id", "tok", budget = 10000L)
    val kept = out.groupBy("src").agg(sum("tok").as("t"), max("mix_rate").as("r"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(kept("small") == ((10000L, 1.0))) // under budget -> keep all
    assert(kept("big")._2 == 0.1)
    assert(math.abs(kept("big")._1 - 10000L) <= 3000) // ~budget via hash rate
    // the mod path is exact for full residue cycles (ids 0..999 cycle 0..99)
    val exact = graft.ops.Sampling
      .mixtureByTokenBudget(docs, "src", "id", "tok", budget = 10000L,
        byHash = false)
      .filter($"src" === "big").count()
    assert(exact == 100) // rate .1 -> residues 0..9 of each 100-cycle
  }

  test("per-stratum rates apply independently") {
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "k")
    val rate = when($"k" === "a", 1.0).otherwise(0.0)
    val out = graft.ops.Sampling.stratifiedSampleByMod(df, "id", rate)
      .select("k").distinct().as[String].collect().toSeq
    assert(out == Seq("a")) // rate-0 stratum fully excluded, rate-1 fully kept
  }

  test("quantileBucketSample cuts near-even buckets and applies per-bucket rates") {
    // distinct scores 0..999 -> exact quintiles, no tie ambiguity
    val df = (0L until 1000L).map(i => (i, i.toDouble)).toDF("id", "score")
    val out = graft.ops.Sampling.quantileBucketSample(df, "id", "score",
      rates = Seq(0.0, 0.25, 0.5, 0.75, 1.0))
    val byBucket = out.groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(when($"kept", 1L).otherwise(0L)).as("k"),
        min("score").as("lo"), max("score").as("hi"))
      .as[(Int, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(byBucket.keySet == Set(0, 1, 2, 3, 4))
    // quantile cuts partition 1000 distinct scores into ~200-row buckets,
    // ordered: every bucket-i score is below every bucket-(i+1) score
    (0 to 4).foreach { b => assert(math.abs(byBucket(b)._2 - 200L) <= 1) }
    (0 to 3).foreach { b => assert(byBucket(b)._5 < byBucket(b + 1)._4) }
    // mod rates are exact over full residue cycles: 0%, ~25%, ... 100%
    assert(byBucket(0)._3 == 0L)
    assert(byBucket(4)._3 == byBucket(4)._2)
    assert(math.abs(byBucket(2)._3 * 2 - byBucket(2)._2) <= 4)
    // rerun-stable (pure function of the input)
    val again = graft.ops.Sampling.quantileBucketSample(df, "id", "score",
      rates = Seq(0.0, 0.25, 0.5, 0.75, 1.0))
      .filter($"kept").select("id").as[Long].collect().toSet
    assert(again == out.filter($"kept").select("id").as[Long].collect().toSet)
  }

  test("quantileBucketSample: NULL scores take the sentinel, never bucket 0") {
    // unguarded, the lambda filter drops null-predicate elements and a
    // null-score row lands in bucket 0 at bucket 0's keep rate
    val df = ((0L until 100L).map(i => (i, Option(i.toDouble))) ++
      Seq((100L, Option.empty[Double]), (101L, Option.empty[Double])))
      .toDF("id", "score")
    val out = graft.ops.Sampling.quantileBucketSample(df, "id", "score",
      rates = Seq(1.0, 0.0))
    val nulls = out.filter($"score".isNull)
    assert(nulls.count() == 2) // emitted, not silently dropped
    assert(nulls.filter($"bucket".isNull && $"rate".isNull && !$"kept")
      .count() == 2)
    // cuts come from the null-free scores: median 49.5 still splits 50/50
    assert(out.filter($"score".isNotNull && $"bucket" === 0).count() == 50)
    assert(out.filter($"bucket" === 0 && $"kept").count() == 50)
    assert(out.filter($"bucket" === 1 && $"kept").count() == 0)
    // an ALL-null score column yields all-sentinel rows, not an
    // element_at(-1) error from the null percentile array
    val allNull = Seq((1L, Option.empty[Double]), (2L, Option.empty[Double]))
      .toDF("id", "score")
    val an = graft.ops.Sampling.quantileBucketSample(allNull, "id", "score",
      rates = Seq(0.5))
    assert(an.filter($"bucket".isNull && !$"kept").count() == 2)
  }

  test("temperatureMixture: alpha-scaled weights, budget shares, capped rates") {
    // sqrt-exact counts: a=900, b=100 -> pw 30/10 -> weights 0.75/0.25
    val df = Seq(("a", Seq.fill(900)("t").mkString(" ")),
      ("b", Seq.fill(100)("u").mkString(" "))).toDF("source", "text")
    val out = graft.ops.Sampling
      .temperatureMixture(df, "source", "text", alpha = 0.5, budget = 200L)
      .as[(String, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("a") == (("a", 900L, 0.75, 150L, 0.166667)))
    assert(out("b") == (("b", 100L, 0.25, 50L, 0.5)))
    // a budget beyond a source's own tokens caps its rate at 1.0
    val capped = graft.ops.Sampling
      .temperatureMixture(df, "source", "text", alpha = 0.5, budget = 4000L)
      .as[(String, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(capped == Map("a" -> 1.0, "b" -> 1.0))
    // alpha = 1 reproduces natural proportions
    val natural = graft.ops.Sampling
      .temperatureMixture(df, "source", "text", alpha = 1.0, budget = 200L)
      .as[(String, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(natural == Map("a" -> 0.9, "b" -> 0.1))
  }

  test("unimaxMixture: water-filling caps, uniform surplus, boundary edges") {
    // n = 10/100/1000 tokens; cap 2 -> capacities 20/200/2000
    val df = Seq(("s1", Seq.fill(10)("t").mkString(" ")),
      ("s2", Seq.fill(100)("u").mkString(" ")),
      ("s3", Seq.fill(1000)("v").mkString(" "))).toDF("source", "text")
    def run(budget: Long, cap: Double = 2.0) = graft.ops.Sampling
      .unimaxMixture(df, "source", "text", budget, cap)
      .as[(String, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // budget 1000: s1 caps (20), s2 caps (200), surplus 780 to s3
    val mid = run(1000L)
    assert(mid("s1") == (("s1", 10L, 20L, 2.0, true)))
    assert(mid("s2") == (("s2", 100L, 200L, 2.0, true)))
    assert(mid("s3") == (("s3", 1000L, 780L, 0.78, false)))
    // budget >= total capacity: everyone at exactly the epoch cap, the
    // leftover budget deliberately unallocated (UniMax semantics)
    val big = run(10000L)
    assert(big.values.forall(_._4 == 2.0) && big.values.forall(_._5))
    assert(big("s3")._3 == 2000L)
    // budget below m * min-capacity: nobody caps, equal token shares
    val tiny = run(15L)
    assert(tiny.values.forall(!_._5))
    assert(tiny.values.map(_._3).toSeq.sorted == Seq(5L, 5L, 5L))
    assert(tiny("s1")._4 == 0.5 && tiny("s2")._4 == 0.05 &&
      tiny("s3")._4 == 0.005)
    // uncapped sources share TOKENS uniformly, never epochs — the
    // UniMax fairness inversion vs temperature sampling
    assert(mid("s3")._3 > mid("s2")._3 && mid("s3")._4 < mid("s2")._4)
    // a source whose texts tokenize to ZERO tokens: capacity 0, target
    // 0 — and epochs must read 0.0, not the NULL of a 0/0 division
    // (advisor r13; greatest(n_tokens,1) in the denominator)
    val withEmpty = df.union(Seq(("s0", "")).toDF("source", "text"))
    val z = graft.ops.Sampling
      .unimaxMixture(withEmpty, "source", "text", 1000L, 2.0)
      .as[(String, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(z("s0") == (("s0", 0L, 0L, 0.0, true)))
    assert(z("s3")._3 == mid("s3")._3, "zero-token source must not shift the fill level")
  }

  test("property: unimaxMixture water-filling invariants over a budget grid") {
    // the offline classpath has no scalatest/scalacheck bridge, so the
    // properties run over an explicit grid (the QualityPropertiesSpec
    // convention): skewed sources 10/40/160/640 tokens, caps 0.5/2/3,
    // budgets from starvation to beyond total capacity
    val df = Seq(("s1", 10), ("s2", 40), ("s3", 160), ("s4", 640))
      .flatMap { case (s, n) => Seq((s, Seq.fill(n)("t").mkString(" "))) }
      .toDF("source", "text")
    for (cap <- Seq(0.5, 2.0, 3.0);
         budget <- Seq(4L, 17L, 100L, 333L, 850L, 1700L, 10000L)) {
      val rows = graft.ops.Sampling
        .unimaxMixture(df, "source", "text", budget, cap)
        .as[(String, Long, Long, Double, Boolean)].collect()
      val label = s"cap=$cap budget=$budget"
      // nobody exceeds the epoch cap (6dp-rounded output grid)
      assert(rows.forall(_._4 <= cap + 1e-6), label)
      // capped sources sit exactly AT the cap
      rows.filter(_._5).foreach(r => assert(math.abs(r._4 - cap) < 1e-6,
        s"$label $r"))
      // total allocation never exceeds the budget beyond per-source
      // rounding, and is exactly min(budget, total capacity) pre-round
      val total = rows.map(_._3).sum
      val capacity = rows.map(r => r._2 * cap).sum
      assert(total <= budget + rows.length, label)
      assert(math.abs(total - math.min(budget.toDouble, capacity)) <=
        rows.length.toDouble, label)
      // uncapped sources share TOKENS equally (one uniform level)
      val un = rows.filter(!_._5).map(_._3)
      if (un.nonEmpty) assert(un.max - un.min <= 1, label)
      // downward-closedness: every capped source's capacity is <= the
      // uniform share any uncapped source received
      if (un.nonEmpty) {
        val maxCappedCapacity = rows.filter(_._5)
          .map(r => r._2 * cap).foldLeft(0.0)(math.max)
        assert(maxCappedCapacity <= un.max + 1, label)
      }
    }
  }

  test("deterministicShuffle is a reproducible permutation into balanced shards") {
    val df = (0L until 4000L).toDF("id")
    val s1 = graft.ops.Sampling.deterministicShuffle(df, "id", numShards = 8)
    val rows = s1.select("id", "shard", "pos")
      .as[(Long, Int, Long)].collect()
    // bijection: every doc exactly once, positions contiguous per shard
    assert(rows.length == 4000 && rows.map(_._1).distinct.length == 4000)
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (0L until rs.length).toSeq,
        s"shard $shard positions must be 0..n-1")
    }
    // uniform md5 spread: no shard drifts far from 4000/8
    assert(rows.groupBy(_._2).values.map(_.size).forall(n =>
      math.abs(n - 500) < 150))
    // rerun-stable, and the permutation actually mixes (not id order)
    val s2 = graft.ops.Sampling.deterministicShuffle(df, "id", numShards = 8)
      .select("id", "shard", "pos").as[(Long, Int, Long)].collect()
    assert(rows.sortBy(_._1).toSeq == s2.sortBy(_._1).toSeq)
    val shard0 = rows.filter(_._2 == 0).sortBy(_._3).map(_._1).toSeq
    assert(shard0 != shard0.sorted, "within-shard order must not be id order")
    // a different salt produces a different permutation
    val salted = graft.ops.Sampling
      .deterministicShuffle(df, "id", numShards = 8, salt = 7L)
      .filter($"shard" === 0).orderBy("pos").select("id")
      .as[Long].collect().toSeq
    assert(salted != shard0)
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("Caching.releaseAll reclaims scoped subtrees; released frames still compute") {
    // the r14 convention for operators whose returned lazy frame pins
    // an internal persist: registered via Caching.scoped, reclaimable
    // session-wide, and a released frame RECOMPUTES identically
    val docs = Seq((1L, "a b a c"), (2L, "b b c d")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.zipfProfile(docs, "text", topN = 2)
    val before = out.collect()
    assert(graft.ops.Caching.releaseAll() >= 1)
    assert(out.collect().sameElements(before))
  }

  test("Caching.releaseAll survives a release that throws") {
    // one stale registration (e.g. a frame from a stopped session) must
    // not abort the drain and strand the rest of the registry
    graft.ops.Caching.releaseAll() // start from an empty registry
    var released = false
    graft.ops.Caching.scopedRelease(
      () => throw new IllegalStateException("stale session"))
    graft.ops.Caching.scopedRelease(() => released = true)
    // poison throws (not counted), the survivor drains (counted)
    assert(graft.ops.Caching.releaseAll() == 1)
    assert(released)
    assert(graft.ops.Caching.releaseAll() == 0)
  }

  test("mean6Exact: half-boundary means round half-up, negatives away from zero") {
    // (0.251630 + 0.251631)/2 = 0.2516305 — EXACTLY on the half grid,
    // where round(avg(x), 6) diverges between engines; the integer
    // formulation must give the HALF_UP answer
    val m = Seq(0.251630, 0.251631).toDF("x")
      .agg(graft.ops.TextAnalysis.mean6Exact($"x")).head().getDouble(0)
    assert(m == 0.251631)
    // HALF_UP on negatives rounds away from zero: mean -0.0000015 -> -0.000002
    val mn = Seq(-0.000001, -0.000002).toDF("x")
      .agg(graft.ops.TextAnalysis.mean6Exact($"x")).head().getDouble(0)
    assert(mn == -0.000002)
  }

  test("calibrationBins: bin edges, p=1.0 folds into top bin, exact means") {
    val df = Seq((0.05, 0), (0.149999, 0), (1.0, 1), (0.95, 1),
      (0.55, 0), (0.58, 1)).toDF("score", "y")
    val out = graft.ops.TextAnalysis.calibrationBins(df, "score", "y")
      .collect().map(r => r.getInt(0) -> r).toMap
    // 0.05→0, 0.149999→1, {0.55,0.58}→5, {0.95,1.0}→9 (1.0 folded, not bin 10)
    assert(out.keySet == Set(0, 1, 5, 9))
    assert(out(9).getLong(1) == 2L)
    assert(out(9).getDouble(2) == 0.975)  // conf_mean (1.0+0.95)/2 exact
    assert(out(9).getDouble(3) == 1.0)    // label_rate
    assert(out(9).getDouble(4) == 0.025)  // |0.975 - 1.0|
    assert(out(5).getDouble(3) == 0.5)
    assert(out(0).getDouble(4) == 0.05)
  }

  test("canonicalizeUrl: fragment, case, default ports, utm chains, trailing slash") {
    val cases = Seq(
      ("HTTPS://WWW.Ex.COM:443/Path/?utm_source=a&utm_campaign=b&id=3#frag",
        "https://www.ex.com/Path/?id=3"),             // path case KEPT
      ("http://Host.com:80/", "http://host.com"),     // port + trailing /
      ("https://h.com/p?utm_a=1", "https://h.com/p"), // lone utm + dangling ?
      ("https://h.com/p?id=2&utm_last=x", "https://h.com/p?id=2"),
      ("https://h.com:8443/p", "https://h.com:8443/p"), // non-default port kept
      ("https://h.com:443?id=1", "https://h.com?id=1"), // port before query
      // a param whose NAME merely contains 'utm_' must survive intact
      ("https://h.com/p?my_utm_tracker=1&id=2",
        "https://h.com/p?my_utm_tracker=1&id=2"),
      // interleaved utm/non-utm params: only real utm params drop
      ("https://h.com/p?utm_a=1&x=2&utm_b=3&y=4", "https://h.com/p?x=2&y=4")
    ).toDF("url", "expected")
    val out = cases.withColumn("got",
        graft.ops.TextAnalysis.canonicalizeUrl(col("url")))
      .as[(String, String, String)].collect()
    out.foreach { case (u, exp, got) => assert(got == exp, s"$u -> $got") }
  }

  test("dedupLinesWithin keeps first occurrences in order, map-only") {
    val df = Seq(
      (1L, "a b\nc d\na b\ne f\nc d"),
      (2L, "x\nx\nx"),
      (3L, "only line")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.dedupLinesWithin(df, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((5L, 2L, "a b\nc d\ne f")))
    assert(out(2L) == ((3L, 2L, "x")))
    assert(out(3L) == ((1L, 0L, "only line")))
    // zero shuffles: the whole op is one projection over the scan
    val plan = graft.ops.TextAnalysis.dedupLinesWithin(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(500))
  }

  test("bpePairCounts: freq-weighted within-word char pairs, case-folded, single chars skipped") {
    val df = Seq("aab AAB bc", "aab x").toDF("text")
    // words after lower(): aab x3, bc x1, x x1 (len < 2: no pairs)
    // aab -> "aa","ab" each weighted 3; bc -> "bc" once
    val out = graft.ops.TextAnalysis.bpePairCounts(df, "text", k = 10)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("aa", 3L), ("ab", 3L), ("bc", 1L)))
    // k truncates AFTER the (count desc, pair asc) total order
    assert(graft.ops.TextAnalysis.bpePairCounts(df, "text", k = 2)
      .as[(String, Long)].collect().toSeq == Seq(("aa", 3L), ("ab", 3L)))
  }

  test("round-4 ops accept an empty corpus without crashing") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptySrc = Seq.empty[(Long, String, String)].toDF("doc_id", "src", "text")
    assert(Dedup.paragraphDedup(empty, "doc_id", "text").count() == 0)
    assert(Dedup.reassembleKept(
      Dedup.paragraphDedup(empty, "doc_id", "text")).count() == 0)
    assert(TextAnalysis.unigramNll(empty, "doc_id", "text").count() == 0)
    assert(TextAnalysis.sourceTokenKl(emptySrc, "src", "text").count() == 0)
    assert(TextAnalysis.commonParagraphs(empty, "doc_id", "text").count() == 0)
    assert(TextAnalysis.nextTokenTopK(empty, "text", 3).count() == 0)
    assert(graft.ops.Sampling.contentHashSplit(empty, "text").count() == 0)
    assert(graft.ops.Sampling.mixtureByTokenBudget(
      emptySrc.withColumnRenamed("text", "tok_str")
        .withColumn("tok", lit(1L)).drop("tok_str"),
      "src", "doc_id", "tok", 100L).count() == 0)
    assert(graft.ops.Versioning.datasetDiff(empty, empty, "doc_id", "text")
      .count() == 0)
  }

  test("datasetDiff classifies added/removed/changed/unchanged by content") {
    val v1 = Seq((1L, "same"), (2L, "will change"), (3L, "goes away"))
      .toDF("id", "text")
    val v2 = Seq((1L, "same"), (2L, "changed!"), (4L, "brand new"))
      .toDF("id", "text")
    val out = graft.ops.Versioning.datasetDiff(v1, v2, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("benchMaxJaccard attributes per-doc eval overlap to the closest bench doc") {
    val bench = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b c d e"),          // exact copy -> jaccard 1
      (2L, "a b c d x"),          // shares shingles {a b c, b c d} of 3 each
      (3L, "q r s t u")           // disjoint -> scores 0.0 (still a row)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.benchMaxJaccard(corpus, "doc_id", "text", bench)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((1L, 1.0)))
    // |inter|=2, |a|=|b|=3 -> 2/(3+3-2) = 0.5
    assert(out(2L) == ((1L, 0.5)))
    // full per-doc score table: zero-overlap docs come back explicitly
    assert(out(3L) == ((0L, 0.0)))
  }

  test("distributionProfile: interpolated exact quantiles; sketch agrees within tolerance") {
    // lengths 1..5 -> quantile_cont semantics: p25 = 2, p50 = 3, p75 = 4,
    // p95 = 4.8 (interpolated); token count is 1 everywhere
    val docs = Seq(("s", "a"), ("s", "bb"), ("s", "ccc"), ("s", "dddd"),
      ("s", "eeeee")).toDF("source", "text")
    val r = TextAnalysis.distributionProfile(docs, "source", "text").head()
    assert(r.getAs[Long]("n_docs") == 5L)
    assert(r.getAs[Double]("len_p25") == 2.0)
    assert(r.getAs[Double]("len_p50") == 3.0)
    assert(r.getAs[Double]("len_p75") == 4.0)
    assert(r.getAs[Double]("len_p95") == 4.8)
    assert(r.getAs[Double]("tok_p50") == 1.0)
    // the sketch returns dataset elements (no interpolation); the 5%
    // relative bound must still hold at every probe
    assert(r.getAs[Boolean]("len_sketch_ok"))
    assert(r.getAs[Boolean]("tok_sketch_ok"))
  }

  test("urlDomain extracts the first host; empty when no URL") {
    val out = Seq(
      "go to https://a.example.com/x and http://b.example.com/y",
      "no links here").toDF("text")
      .select(TextAnalysis.urlDomain(col("text"))).as[String].collect().toSeq
    assert(out == Seq("a.example.com", ""))
  }

  test("sourceTokenKl is zero for identical distributions, positive for drift") {
    // two sources with IDENTICAL token mixes -> each equals the corpus
    val same = Seq((1L, "a", "x x y"), (2L, "b", "x x y"))
      .toDF("doc_id", "src", "text")
    val klSame = TextAnalysis.sourceTokenKl(same, "src", "text")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(klSame("a") == 0.0 && klSame("b") == 0.0)
    // disjoint vocabularies -> both sources diverge from the blend
    val drift = Seq((1L, "a", "x x x"), (2L, "b", "y y y"))
      .toDF("doc_id", "src", "text")
    val klDrift = TextAnalysis.sourceTokenKl(drift, "src", "text")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // p=1 on its own token, q=1/2 in the blend -> KL = ln 2
    val r6 = (x: Double) => math.rint(x * 1e6) / 1e6
    assert(klDrift("a") == r6(math.log(2)) && klDrift("b") == r6(math.log(2)))
  }

  test("doremiWeights: uniform mix keeps shares, drift upweights, sums to 1") {
    // identical token mixes -> zero excess everywhere -> weights == shares
    // (modulo the uniform-smoothing term, disabled here)
    val same = Seq((1L, "a", "x x y"), (2L, "b", "x x y"))
      .toDF("doc_id", "src", "text")
    val flat = TextAnalysis.doremiWeights(same, "src", "text",
        eta = 1.0, smoothing = 0.0)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(flat("a")._2 == 0.0 && flat("b")._2 == 0.0)
    assert(flat("a")._3 == 0.5 && flat("b")._3 == 0.5)
    assert(flat("a")._4 == 1.0 && flat("b")._4 == 1.0) // resample_factor
    // one off-distribution source: positive excess, upweighted vs its
    // share; weights still sum to 1 and every domain keeps >= the
    // smoothing floor
    val drift = Seq((1L, "a", "x x x x x x"), (2L, "a", "x x y"),
      (3L, "b", "z z z")).toDF("doc_id", "src", "text")
    val out = TextAnalysis.doremiWeights(drift, "src", "text",
      eta = 2.0, smoothing = 0.01).collect()
    val byDom = out.map(r => r.getString(0) ->
      (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    // b's vocabulary is disjoint from the blend's mass -> bigger excess
    assert(byDom("b")._2 > byDom("a")._2)
    // the DoReMi update must upweight the high-excess domain
    assert(byDom("b")._4 > 1.0 && byDom("a")._4 < 1.0)
    assert(math.abs(out.map(_.getDouble(4)).sum - 1.0) < 1e-5)
    assert(out.forall(_.getDouble(4) >= 0.01 / out.length))
    // invalid knobs rejected up front
    intercept[IllegalArgumentException] {
      TextAnalysis.doremiWeights(same, "src", "text", eta = 0.0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.doremiWeights(same, "src", "text", smoothing = 1.0)
    }
  }

  test("unigramViterbi: optimal over greedy, pinned tie-breaks, OOV null") {
    import graft.functions.UnigramViterbiFunctions.unigram_viterbi
    // non-greedy: win+dow (3+3: -6-6=-12) loses to wi+ndow (2+4: -7-5=-12)?
    // make it unambiguous: 2+4 = -7-5 = -12 vs 3+3 = -6-6 = -12 would tie,
    // so give dow a worse score — Viterbi must pick the 2+4 split
    val vocab = Seq("w" -> -8.0, "i" -> -8.0, "n" -> -8.0, "d" -> -8.0,
      "o" -> -8.0, "wi" -> -7.0, "win" -> -6.0, "dow" -> -6.5,
      "ndow" -> -5.0)
    def seg(w: String, v: Seq[(String, Double)] = vocab): Option[Seq[String]] = {
      val r = Seq(w).toDF("w")
        .select(unigram_viterbi(col("w"), v).as("s"))
        .collect().head
      if (r.isNullAt(0)) None else Some(r.getSeq[String](0))
    }
    assert(seg("window").contains(Seq("wi", "ndow")))
    // score tie -> fewer pieces: ab as one piece beats a+b at equal total
    val tied = Seq("a" -> -4.0, "b" -> -4.0, "ab" -> -8.0)
    assert(seg("ab", tied).contains(Seq("ab")))
    // full tie (score AND count) -> earliest predecessor = longest final
    // piece: xy vs x+y impossible to tie on count; use 3 chars where
    // (x)(yz) and (xy)(z) tie on both -> j ASC keeps the FIRST dp choice,
    // which resolves to x+yz (predecessor j=1 for final piece yz)
    val t3 = Seq("x" -> -4.0, "y" -> -4.0, "z" -> -4.0,
      "xy" -> -8.0, "yz" -> -8.0)
    assert(seg("xyz", t3).contains(Seq("x", "yz")))
    // OOV character -> null, not a partial segmentation
    assert(seg("window?").isEmpty)
    // empty word -> empty pieces
    assert(seg("").contains(Seq.empty))
    // degenerate vocabs rejected at construction
    intercept[IllegalArgumentException] { seg("w", Seq.empty) }
    intercept[IllegalArgumentException] {
      seg("w", Seq("a" -> -1.0, "a" -> -2.0))
    }
  }

  test("unigramSegment: per-doc rollup, OOV counting, codegen membership") {
    val vocab = Seq("a" -> -2.0, "b" -> -2.0, "ab" -> -1.0, "c" -> -2.0)
    val docs = Seq(
      (1L, "ab ab c"),     // 3 tokens -> ab, ab, c = 3 pieces, logp -4
      (2L, "ab zq"),       // zq unsegmentable -> n_oov=1, only ab counted
      (3L, "")             // empty -> all zeros
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramSegment(docs, "doc_id", "text", vocab)
      .select(col("doc_id"), col("n_tokens"), col("n_oov"), col("n_pieces"),
        col("logp"), col("segm"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getString(5))).toMap
    assert(out(1L) == ((3L, 0L, 3L, -4.0, "ab ab c")))
    assert(out(2L) == ((2L, 1L, 1L, -1.0, "ab")))
    assert(out(3L) == ((0L, 0L, 0L, 0.0, "")))
    // the segmentation projection must stay inside whole-stage codegen
    // (map-only tokenizer inference is the operator's scale contract);
    // the starred Project must carry the profile expression itself — a
    // transform() HOF spelling would de-codegen exactly here. range()
    // input: a local Seq would constant-fold into a LocalTableScan and
    // hide the executed shape
    val ranged = spark.range(0, 10).select($"id".as("doc_id"),
      concat(lit("ab c ab"), when($"id" % 2 === 0, lit(" ab"))
        .otherwise(lit(""))).as("text"))
    val plan = TextAnalysis.unigramSegment(ranged, "doc_id", "text", vocab)
      .queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) project \\[[^\\]]*unigramsegmentprofile".r
      .findFirstIn(plan.toLowerCase).isDefined,
      s"segment projection left whole-stage codegen:\n${plan.take(500)}")
  }

  test("wordpieceSegment: greedy longest-match, whole-word UNK, codegen") {
    // BERT semantics: LONGEST match wins at each position even when a
    // shorter split would cover the word — "windows": win + ##dow + ##s
    // (greedy takes win over wi although wi+ndow also covers)
    val vocab = Seq("win", "wi", "a", "b", "c", "s",
      "##ndow", "##dow", "##s", "##b", "ab")
    val docs = Seq(
      (1L, "windows ab"),   // win+##dow+##s (3) + ab (1)
      (2L, "abc ab"),       // abc: ab + ##c? no ##c -> whole word [UNK]
      (3L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.wordpieceSegment(docs, "doc_id", "text", vocab)
      .select(col("doc_id"), col("n_tokens"), col("n_unk"), col("n_pieces"),
        col("segm"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((2L, 0L, 4L, "win+##dow+##s ab")))
    assert(out(2L) == ((2L, 1L, 2L, "[UNK] ab")))
    assert(out(3L) == ((0L, 0L, 0L, "")))
    // continuation matching: the ## prefix is matched structurally, not
    // textually — a literal "##" in the text matches nothing and UNKs
    val lit2 = Seq((1L, "##b b")).toDF("doc_id", "text")
    val got = TextAnalysis.wordpieceSegment(lit2, "doc_id", "text",
        Seq("b", "##b")).select(col("segm")).collect()(0).getString(0)
    assert(got == "[UNK] b")
    // degenerate vocabs rejected at construction
    intercept[IllegalArgumentException] {
      TextAnalysis.wordpieceSegment(docs, "doc_id", "text", Seq.empty)
        .collect()
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.wordpieceSegment(docs, "doc_id", "text", Seq("a", "a"))
        .collect()
    }
    // map-only tokenizer inference must stay inside whole-stage codegen
    // (same contract and range()-input rationale as unigramSegment)
    val ranged = spark.range(0, 10).select($"id".as("doc_id"),
      concat(lit("windows ab"), when($"id" % 2 === 0, lit(" abc"))
        .otherwise(lit(""))).as("text"))
    val plan = TextAnalysis.wordpieceSegment(ranged, "doc_id", "text", vocab)
      .queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) project \\[[^\\]]*wordpieceprofile".r
      .findFirstIn(plan.toLowerCase).isDefined,
      s"wordpiece projection left whole-stage codegen:\n${plan.take(500)}")
  }

  test("unigramNll matches a hand-computed corpus distribution") {
    // corpus: tokens a a a b -> p(a)=3/4, p(b)=1/4
    val docs = Seq((1L, "a a a"), (2L, "b")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramNll(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val r6 = (x: Double) => math.rint(x * 1e6) / 1e6
    assert(out(1L) == ((3L, r6(-math.log(0.75))))) // common tokens -> low NLL
    assert(out(2L) == ((1L, r6(-math.log(0.25))))) // rare token -> high NLL
    assert(out(2L)._2 > out(1L)._2)
  }

  test("commonParagraphs ranks by frequency and separates occurrences from docs") {
    val corpus = Seq(
      (1L, "footer\n\nunique one"),
      (2L, "footer\n\nfooter"), // footer twice in ONE doc: 3 occ, 2 docs
      (3L, "unique two\n\nfooter")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.commonParagraphs(corpus, "doc_id", "text", k = 2)
      .as[(String, Long, Long)].collect().toSeq
    assert(top == Seq(("footer", 4L, 3L), ("unique one", 1L, 1L)))
    // the global top-k must plan TakeOrderedAndProject, not a full sort
    val plan = TextAnalysis.commonParagraphs(corpus, "doc_id", "text", k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }

  test("nextTokenTopK ranks successors per prefix with deterministic ties") {
    val df = Seq(
      (1L, "a b a b a c"), // bigrams: a->b x2, b->a x2, a->c x1
      (2L, "a b"),         // a->b once more -> a->b x3
      (3L, "solo")         // <2 tokens: contributes nothing
    ).toDF("doc_id", "text")
    val out = TextAnalysis.nextTokenTopK(df, "text", 2)
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(("a", "b", 3L), ("a", "c", 1L), ("b", "a", 2L)))
    // k=1 keeps only the most frequent successor (ties: next_token asc)
    val top1 = TextAnalysis.nextTokenTopK(df, "text", 1)
      .as[(String, String, Long)].collect().toSet
    assert(top1 == Set(("a", "b", 3L), ("b", "a", 2L)))
  }

  test("piiStats counts and scrubPii redacts planted emails/phones/IPs") {
    val df = Seq(
      (1L, "reach me at a.b@example.org or 555-123-4567 from 10.0.0.1"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val stats = TextAnalysis.piiStats(df)
      .select("doc_id", "n_emails", "n_phones", "n_ipv4s")
      .as[(Long, Int, Int, Int)].collect()
      .map { case (id, e, p, i) => id -> ((e, p, i)) }.toMap
    assert(stats(1L) == ((1, 1, 1)) && stats(2L) == ((0, 0, 0)))
    val scrubbed = TextAnalysis.scrubPii(df).filter($"doc_id" === 1)
      .select("scrubbed").as[String].head()
    assert(scrubbed == "reach me at [EMAIL] or [PHONE] from [IP]", scrubbed)
  }

  test("subwordCount (RE2 match form) equals the lookaround-split formulation") {
    // the match-based regex is what lets DuckDB oracle-check x14; this pins
    // it segment-for-segment to the original Java-lookaround split across
    // the boundary cases (letter/digit transitions, punct runs, whitespace)
    val texts = Seq("abc123!x y", "a1!2b", "..", "a.1", "hello world",
      "x-3.14e5", "", "   ", "snake_case CamelCase 2024!", "!!!", "a,b;c",
      "!abc", "!123", "tail!", "a  b\t c")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextAnalysis.subwordCount(col("text")).as("m"),
      size(filter(split(trim(col("text")),
        "(?<=[a-zA-Z])(?=[0-9])|(?<=[0-9])(?=[a-zA-Z])|\\s+|(?=[^a-zA-Z0-9\\s])"),
        t => length(t) > 0)).as("l"))
      .as[(Long, Int, Int)].collect()
    out.foreach { case (id, m, l) =>
      assert(m == l, s"doc $id '${texts(id.toInt)}': match=$m lookaround=$l")
    }
  }

  test("extended PII: multi-format detection, Luhn separation, full scrub") {
    // precision/recall over a planted multi-format corpus: every planted
    // instance must be found (recall) and the no-PII rows must stay at
    // zero across all counters (precision)
    val df = Seq(
      (1L, "ssn 123-45-6789 card 4111111111111111 call +1 650 555 0199"),
      (2L, "cards: bad 1234-5678-9012-3456 good 4532-0151-1283-0366"),
      (3L, "no pii, plain numbers 12345 2024 and words"),
      (4L, "dotted 555.123.4567 at 10.0.0.1 mail a@b.co")
    ).toDF("doc_id", "text")
    val stats = TextAnalysis.piiStatsExtended(df)
      .select("doc_id", "n_ssns", "n_cards", "n_valid_cards", "n_intl_phones")
      .as[(Long, Int, Int, Int, Int)].collect()
      .map { case (id, s, c, v, p) => id -> ((s, c, v, p)) }.toMap
    assert(stats(1L) == ((1, 1, 1, 1)), stats(1L))
    assert(stats(2L) == ((0, 2, 1, 0)), stats(2L)) // Luhn separates good/bad
    assert(stats(3L) == ((0, 0, 0, 0)), stats(3L))
    assert(stats(4L) == ((0, 0, 0, 0)), stats(4L))
    val scrubbed = TextAnalysis.scrubPiiExtended(df)
      .select("doc_id", "scrubbed").as[(Long, String)].collect().toMap
    assert(scrubbed(1L) == "ssn [SSN] card [CARD] call [INTL_PHONE]", scrubbed(1L))
    assert(scrubbed(2L) == "cards: bad [CARD] good [CARD]", scrubbed(2L))
    assert(scrubbed(3L) == "no pii, plain numbers 12345 2024 and words")
    assert(scrubbed(4L) == "dotted [PHONE] at [IP] mail [EMAIL]", scrubbed(4L))
  }

  test("chunkByTokens windows with overlap; short docs one chunk, empty none") {
    val df = Seq(
      (1L, (1 to 80).map(i => s"t$i").mkString(" ")), // starts 0,24,48
      (2L, "a b c"),                                  // under overlap: one chunk
      (3L, "")                                        // no chunks
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkByTokens(df, "doc_id", "text", 32, 8)
      .select("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text")
      .as[(Long, Int, Int, String)].collect()
    val byDoc = out.groupBy(_._1)
    assert(byDoc(1L).map(c => (c._2, c._3)).sorted.toSeq ==
      Seq((0, 32), (1, 32), (2, 32)))
    assert(byDoc(1L).find(_._2 == 1).get._4.startsWith("t25 ")) // stride 24
    assert(byDoc(2L).map(c => (c._2, c._3, c._4)).toSeq == Seq((0, 3, "a b c")))
    assert(!byDoc.contains(3L))
  }

  test("packByBudget bins by start offset per shard; oversized docs get a bin") {
    // shard a: tokens 1100,1100,1100 -> starts 0,1100,2200 -> packs 0,0,1
    // shard b: tokens 5000 (over budget), 10 -> packs 0, 2 (start 5000)
    val df = Seq(
      (1L, "a", 1100), (2L, "a", 1100), (3L, "a", 1100),
      (10L, "b", 5000), (11L, "b", 10)
    ).toDF("doc_id", "shard", "token_cnt")
    val out = graft.ops.Packing.packByBudget(df, "shard", "doc_id", "token_cnt", 2048)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 10L -> 0L, 11L -> 2L), out)
    val stats = graft.ops.Packing.packStats(
      graft.ops.Packing.packByBudget(df, "shard", "doc_id", "token_cnt", 2048),
      "shard", "token_cnt")
      .select("shard", "pack_id", "n_docs").as[(String, Long, Long)].collect().toSet
    assert(stats == Set(("a", 0L, 2L), ("a", 1L, 1L), ("b", 0L, 1L), ("b", 2L, 1L)))
  }

  test("lengthBucketedBatches: bucket rule, capacity math, batch splits, zero-token docs") {
    // bucketWidth 10, batchTokens 60: bucket 1 (cap 10) takes 6/batch,
    // bucket 2 (cap 20) takes 3/batch, bucket 7 (cap 70 > 60) takes 1
    val df = (1L to 8L).map(i => (i, "s", 5)) ++ // 8 short docs -> bucket 1
      Seq((20L, "s", 15), (21L, "s", 11), (22L, "s", 20), (23L, "s", 12)) ++ // bucket 2
      Seq((30L, "s", 65)) ++ // bucket 7, oversize: alone per batch
      Seq((40L, "s", 0)) // zero tokens -> bucket 1, not a zero-cap bucket
    val rows = graft.ops.Packing.lengthBucketedBatches(
        df.toDF("doc_id", "shard", "n_tokens"), "shard", "doc_id",
        "n_tokens", batchTokens = 60L, bucketWidth = 10)
      .collect().map(r => (r.getLong(1), r.getInt(3), r.getLong(4),
        r.getLong(5), r.getInt(6)))
    val byDoc = rows.map(r => r._1 -> r).toMap
    // bucket assignment
    assert(byDoc(1L)._2 === 1 && byDoc(1L)._3 === 10L)
    assert(byDoc(22L)._2 === 2 && byDoc(22L)._3 === 20L)
    assert(byDoc(30L)._2 === 7 && byDoc(30L)._3 === 70L)
    assert(byDoc(40L)._2 === 1) // zero tokens -> bucket 1
    // bucket 1 holds 9 docs at 6/batch -> batches 0 (6 docs) and 1 (3)
    val b1 = rows.filter(_._2 == 1)
    assert(b1.count(_._4 == 0L) === 6 && b1.count(_._4 == 1L) === 3)
    // bucket 2 holds 4 docs at 3/batch -> 3 + 1
    val b2 = rows.filter(_._2 == 2)
    assert(b2.count(_._4 == 0L) === 3 && b2.count(_._4 == 1L) === 1)
    // oversize bucket: one per batch, slot always 0
    assert(byDoc(30L)._4 === 0L && byDoc(30L)._5 === 0)
    // slots are 0-based and bounded by perBatch
    assert(b1.forall(r => r._5 >= 0 && r._5 < 6))
    // deterministic: a rerun assigns identically
    val again = graft.ops.Packing.lengthBucketedBatches(
        df.toDF("doc_id", "shard", "n_tokens"), "shard", "doc_id",
        "n_tokens", batchTokens = 60L, bucketWidth = 10)
      .collect().map(r => (r.getLong(1), r.getInt(3), r.getLong(4),
        r.getLong(5), r.getInt(6))).toSet
    assert(again === rows.toSet)
    // guard: batchTokens below bucketWidth refuses
    intercept[IllegalArgumentException](
      graft.ops.Packing.lengthBucketedBatches(
        df.toDF("doc_id", "shard", "n_tokens"), "shard", "doc_id",
        "n_tokens", batchTokens = 5L, bucketWidth = 10))
  }

  test("bpeLearn: classic corpus merges, dry-out, monotone counts, vocab cap") {
    val df = Seq("hug hug hug hugs pug pun bun").toDF("text")
    val got = graft.ops.TextAnalysis.bpeLearn(df, "text", numMerges = 4)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq((0, "u", "g", 5L), (1, "h", "ug", 4L),
      (2, "u", "n", 2L), (3, "b", "un", 1L)), got)
    // single-char words have no pairs: the loop runs dry at zero merges
    assert(graft.ops.TextAnalysis.bpeLearn(
      Seq("a b a").toDF("text"), "text", numMerges = 5).count() == 0)
    // real corpus: counts are non-increasing across rounds (a merged
    // pair (x, lr) only appears where (x, l) did), and the run is
    // deterministic end-to-end
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val m1 = graft.ops.TextAnalysis.bpeLearn(docs, "text", numMerges = 12)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(m1.size == 12)
    assert(m1.map(_._4).sliding(2).forall(w => w(0) >= w(1)), m1)
    val m2 = graft.ops.TextAnalysis.bpeLearn(docs, "text", numMerges = 12)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(m1 == m2)
    // the driver collect refuses oversized vocabularies loudly
    val e = intercept[IllegalArgumentException] {
      graft.ops.TextAnalysis.bpeLearn(docs, "text", 2, maxVocab = 10)
    }
    assert(e.getMessage.contains("maxVocab"))
  }

  test("weightedSample: deterministic, invalid weights excluded, weight bias real") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        graft.ops.TextAnalysis.tokenCount(col("text")).as("w"))
    val s1 = graft.ops.Sampling.weightedSample(docs, "doc_id", "w", k = 20)
      .select("doc_id").as[Long].collect().toSeq
    val s2 = graft.ops.Sampling.weightedSample(docs, "doc_id", "w", k = 20)
      .select("doc_id").as[Long].collect().toSeq
    assert(s1 == s2 && s1.size == 20)
    // a different salt draws a different sample
    val s3 = graft.ops.Sampling.weightedSample(docs, "doc_id", "w", k = 20,
      salt = 7L).select("doc_id").as[Long].collect().toSeq
    assert(s3 != s1)
    // null/non-positive weights never enter the sample
    val mixed = Seq((1L, 5.0), (2L, -1.0), (3L, 0.0))
      .toDF("doc_id", "w")
      .unionByName(Seq((4L, Option.empty[Double])).toDF("doc_id", "w"))
    val kept = graft.ops.Sampling.weightedSample(mixed, "doc_id", "w", 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(1L))
    // weighting is real: squared-token weights pull the sample's mean
    // token count above the corpus mean
    val sq = docs.withColumn("w2", col("w") * col("w"))
    val sampleMean = graft.ops.Sampling
      .weightedSample(sq, "doc_id", "w2", k = 50)
      .agg(avg("w")).as[Double].head()
    val corpusMean = docs.agg(avg("w")).as[Double].head()
    assert(sampleMean > corpusMean, s"$sampleMean <= $corpusMean")
    // huge constant weights: max-normalization keeps keys spread, so
    // selection follows the md5 uniforms — NOT lowest-id order (the
    // pre-normalization round-8 keys all collapsed to 1.0 here)
    val huge = spark.range(0, 100)
      .select($"id".as("doc_id"), lit(1.0e8).as("w"))
    val picked = graft.ops.Sampling
      .weightedSample(huge, "doc_id", "w", k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(picked != Set(0L, 1L, 2L, 3L, 4L), picked)
  }

  test("pmiCollocations: hand-computed fixture, minCount suppression") {
    val df = Seq("a b a b", "a b c").toDF("text")
    // unigrams a:3 b:3 c:1, T=7; bigrams (a,b):3 (b,a):1 (b,c):1, B=5
    val out = graft.ops.TextAnalysis.pmiCollocations(df, "text",
        minCount = 2, k = 10)
      .as[(String, String, Long, Double)].collect().toSeq
    val expected = math.rint(math.log(3.0 * 7 * 7 / (5.0 * 3 * 3)) * 1e6) / 1e6
    assert(out == Seq(("a", "b", 3L, expected)), (out, expected))
  }

  test("pmiTopKPerToken: per-head ranking through the heap operator") {
    // unigrams a:3 b:3 c:1, T=7; bigrams (a,b):3 (b,a):1 (b,c):1, B=5
    val df = Seq("a b a b", "a b c").toDF("text")
    def pmi(cAB: Double, cA: Double, cB: Double) =
      math.rint(math.log(cAB * 7 * 7 / (5.0 * cA * cB)) * 1e6) / 1e6
    val out = graft.ops.TextAnalysis.pmiTopKPerToken(df, "text",
        minCount = 1, kPerToken = 1)
      .orderBy($"w1")
      .as[(String, String, Long, Double)].collect().toSeq
    // head a -> (a,b); head b -> best of (b,a) pmi(1,3,3) vs (b,c)
    // pmi(1,3,1): (b,c) wins (rarer continuation, higher pmi)
    assert(out == Seq(("a", "b", 3L, pmi(3, 3, 3)),
      ("b", "c", 1L, pmi(1, 3, 1))), out)
    // and the plan runs the custom bounded-heap operator, not a Window
    val plan = graft.ops.TextAnalysis.pmiTopKPerToken(df, "text", 1, 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), plan.take(800))
  }

  test("normalizeText: in-place output keeps the changed flag honest") {
    val df = Seq((1L, "“hi” – there"), (2L, "clean text"))
      .toDF("doc_id", "text")
    // default out column
    val sep = graft.ops.TextAnalysis.normalizeText(df)
      .select($"doc_id", $"normalized", $"changed")
      .as[(Long, String, Boolean)].collect().toSet
    assert(sep == Set((1L, "\"hi\" - there", true), (2L, "clean text", false)),
      sep)
    // in-place (outCol == textCol): changed must still compare against
    // the ORIGINAL text, not the overwritten column vs itself
    val inPlace = graft.ops.TextAnalysis.normalizeText(df, "text", "text")
      .select($"doc_id", $"text", $"changed")
      .as[(Long, String, Boolean)].collect().toSet
    assert(inPlace == Set((1L, "\"hi\" - there", true),
      (2L, "clean text", false)), inPlace)
  }

  test("bigramNll: hand-computed fixture, short docs emitted at zero") {
    val df = Seq((1L, "a b a"), (2L, "b a"), (3L, "x")).toDF("doc_id", "text")
    // bigrams: doc1 (a,b),(b,a); doc2 (b,a) -> c(a,b)=1, c(b,a)=2
    // context counts: c_start(a)=1, c_start(b)=2; V = |{a,b}| = 2; k=0.5
    // p(b|a) = 1.5/(1+1) = 0.75 ; p(a|b) = 2.5/(2+1) = 2.5/3
    val pba = 1.5 / 2.0
    val pab = 2.5 / 3.0
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val got = graft.ops.TextAnalysis.bigramNll(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map { case (id, n, nll) => id -> ((n, nll)) }.toMap
    assert(got(1L) == ((2L, r6((-math.log(pba) - math.log(pab)) / 2.0))), got)
    assert(got(2L) == ((1L, r6(-math.log(pab)))), got)
    assert(got(3L) == ((0L, 0.0)), got) // 1-token doc emitted, not dropped
  }

  test("recallAtK: hit accounting, zero-recall queries emitted, approx-only ignored") {
    val exact = Seq((1L, 10L), (1L, 20L), (1L, 30L), (1L, 40L),
      (2L, 10L)).toDF("query_id", "vec_id")
    val approx = Seq((1L, 20L), (1L, 40L), (1L, 99L),
      (3L, 10L)).toDF("query_id", "vec_id")
    val out = graft.ops.Similarity.recallAtK(approx, exact,
        "query_id", "vec_id")
      .as[(Long, Long, Long, Double)].collect().toSet
    // q1: 2 of 4 recovered (the approx-only 99 counts for nothing);
    // q2: present in exact, missed entirely -> emitted at 0;
    // q3: approx-only -> not a query being evaluated, no row
    assert(out == Set((1L, 4L, 2L, 0.5), (2L, 1L, 0L, 0.0)), out)
  }

  test("rrfFuse: hand-computed fusion, absent docs, ties broken by id") {
    val a = Seq((1L, 10L, 1), (1L, 20L, 2), (2L, 40L, 1), (2L, 50L, 1))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 20L, 1), (1L, 30L, 2)).toDF("query_id", "doc_id", "rank")
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val out = graft.ops.Similarity.rrfFuse(Seq(a, b),
        "query_id", "doc_id", "rank", c = 1, k = 2)
      .as[(Long, Long, Int, Double, Long)].collect().toSet
    // q1: d20 = 1/3 + 1/2, d10 = 1/2, d30 = 1/3 (cut by k=2)
    // q2: d40 and d50 tie at 1/2 -> doc id breaks the tie
    assert(out == Set(
      (1L, 20L, 1, r6(1.0 / 3 + 1.0 / 2), 2L),
      (1L, 10L, 2, 0.5, 1L),
      (2L, 40L, 1, 0.5, 1L),
      (2L, 50L, 2, 0.5, 1L)), out)
  }

  test("frequentTokens: exact under capacity, bounds hold over capacity") {
    // exact regime: capacity >= distinct keys -> identical to exact
    // counts, max_err 0, independent of partitioning
    val docs = Seq("a a a b b c", "b a d", "c c e").toDF("text")
    val exact = Map("a" -> 4L, "b" -> 3L, "c" -> 3L, "d" -> 1L, "e" -> 1L)
    for (parts <- Seq(1, 7)) {
      val out = graft.ops.TextAnalysis
        .frequentTokens(docs.repartition(parts), "text", capacity = 8, k = 5)
        .as[(String, Long, Long)].collect().toSeq
      assert(out == Seq(("a", 4L, 0L), ("b", 3L, 0L), ("c", 3L, 0L),
        ("d", 1L, 0L), ("e", 1L, 0L)), (parts, out))
    }
    // over capacity: a planted heavy key among a wide uniform tail;
    // which tail keys survive is partition-dependent, but every
    // estimate must obey est <= true <= est + max_err, and the heavy
    // key must be found
    val skewed = spark.range(0, 2000)
      .select(when($"id" % 2 === 0, "hot")
        .otherwise(concat(lit("t"), ($"id" % 97).cast("string")))
        .as("text"))
    val trueCounts = skewed.groupBy($"text").count()
      .as[(String, Long)].collect().toMap
    val hh = graft.ops.TextAnalysis
      .frequentTokens(skewed, "text", capacity = 4, k = 4)
      .as[(String, Long, Long)].collect()
    assert(hh.nonEmpty && hh.head._1 == "hot", hh.toSeq)
    hh.foreach { case (tok, est, err) =>
      val t = trueCounts(tok)
      assert(est <= t && t <= est + err, s"($tok, est=$est, err=$err, true=$t)")
    }
  }

  test("extractHtmlText: blocks dropped whole, entities one level, case-insensitive tags") {
    val pages = Seq(
      // script body contains a closing tag inside a string; style block;
      // comment; double-escaped entity decodes exactly one level
      (1L, "<p>a&amp;amp;b</p><SCRIPT>var x=\"</p>\";</SCRIPT>" +
        "<style>p{}</style><!-- c -->tail"),
      // markup-only page extracts to empty
      (2L, "<html><head><style>a{}</style></head><body></body></html>"),
      // nbsp + quote entities + whitespace collapse across newlines
      (3L, "<div>x&nbsp;y\n\n  &quot;z&#39;&lt;w&gt;</div>"))
      .toDF("doc_id", "html")
    val out = graft.ops.TextAnalysis.extractHtmlText(pages)
      .select($"doc_id", $"extracted", $"extracted_chars")
      .as[(Long, String, Int)].collect().toSet
    assert(out == Set(
      (1L, "a&amp;b tail", 12),
      (2L, "", 0),
      (3L, "x y \"z'<w>", 10)), out)
  }

  test("repairMojibake: artifacts restored, clean text untouched, composes with normalizeText") {
    val docs = Seq(
      (1L, "cafÃ© donâ€™t 25Â°" +
        " niÃ±oÂ end"),
      (2L, "already clean")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.repairMojibake(docs, "text", "text")
      .select($"doc_id", $"text", $"changed")
      .as[(Long, String, Boolean)].collect().toSet
    assert(out == Set(
      (1L, "café don’t 25° niño end", true),
      (2L, "already clean", false)), out)
    // layering: repair restores the REAL curly quote, normalizeText then
    // unifies it to ASCII — the documented pipeline order
    val composed = graft.ops.TextAnalysis.normalizeText(
        graft.ops.TextAnalysis.repairMojibake(docs, "text", "text"),
        "text", "text")
      .filter($"doc_id" === 1L).select($"text").as[String].head()
    assert(composed == "café don't 25° niño end", composed)
  }

  test("vocabCoverage: oov accounting, empty docs emitted, broadcast membership") {
    val docs = Seq((1L, "a b a zzz"), (2L, "a a"), (3L, ""))
      .toDF("doc_id", "text")
    // dup vocab rows must not double-count; the cased entry must match
    // the case-folded corpus ('B' covers token 'b')
    val vocab = Seq("a", "B", "b").toDF("w")
    val out = graft.ops.TextAnalysis.vocabCoverage(docs, "doc_id", "text",
        vocab, "w")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 4L, 1L, 0.25), (2L, 2L, 0L, 0.0),
      (3L, 0L, 0L, 0.0)), out)
  }

  test("bm25TopK: hand-computed fixture, ranking and tie-break") {
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "b b b c"))
      .toDF("doc_id", "text")
    val qs = Seq((10L, "a b"), (20L, "zzz")).toDF("query_id", "qtext")
    // N=3, dl=(3,2,4), avgdl=3; df(a)=2, df(b)=2
    // idf(a)=idf(b)=ln((3-2+0.5)/(2+0.5)+1)=ln(1.6)
    // denom(tf,dl)=tf+1.2*(0.25+0.75*dl/3)
    val idf = math.log(1.6)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val s1 = r6(idf * (2.0 / 3.2 + 1.0 / 2.2)) // doc1: a tf=2, b tf=1
    val s2 = r6(idf * (1.0 / 1.9))             // doc2: a tf=1
    val s3 = r6(idf * (3.0 / 4.5))             // doc3: b tf=3
    val out = graft.ops.TextAnalysis.bm25TopK(docs, "doc_id", "text",
        qs, "query_id", "qtext", k = 10)
      .as[(Long, Long, Int, Double, Long)].collect().toSeq.sorted
    // ranking: doc1 > doc3 > doc2; query 20 has no matching term -> no rows
    assert(out == Seq((10L, 1L, 1, s1, 2L), (10L, 2L, 3, s2, 1L),
      (10L, 3L, 2, s3, 1L)), (out, s1, s2, s3))
    // k truncates: top-1 keeps only doc1
    val top1 = graft.ops.TextAnalysis.bm25TopK(docs, "doc_id", "text",
        qs, "query_id", "qtext", k = 1)
      .as[(Long, Long, Int, Double, Long)].collect().toSeq
    assert(top1 == Seq((10L, 1L, 1, s1, 2L)), top1)
  }

  test("zipfProfile: hand-computed OLS slope, coverage, head truncation") {
    val df = Seq("a a a a b b c").toDF("text")
    // counts a:4 b:2 c:1 -> ranks 1,2,3; OLS of ln(freq) on ln(rank)
    val xs = Seq(1.0, 2.0, 3.0).map(math.log)
    val ys = Seq(4.0, 2.0, 1.0).map(math.log)
    val xm = xs.sum / 3; val ym = ys.sum / 3
    val slope = xs.zip(ys).map { case (x, y) => (x - xm) * (y - ym) }.sum /
      xs.map(x => (x - xm) * (x - xm)).sum
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val full = graft.ops.TextAnalysis.zipfProfile(df, "text", topN = 3)
      .as[(Long, Long, Double, Double)].collect().head
    assert(full == ((7L, 3L, r6(slope), 1.0)), (full, slope))
    // topN=2 head: mass 6/7, slope over 2 points = (ln2-ln4)/(ln2-ln1)=-1
    val head2 = graft.ops.TextAnalysis.zipfProfile(df, "text", topN = 2)
      .as[(Long, Long, Double, Double)].collect().head
    assert(head2 == ((7L, 3L, -1.0, r6(6.0 / 7.0))), head2)
  }

  test("pageRank: cycle fixed point, star hand-calc, mass conservation") {
    // 2-cycle: uniform 1/2 is the exact fixed point at any damping
    val cycle = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val c = graft.ops.Graph.pageRank(cycle, "src", "dst", iters = 4)
      .as[(Long, Double)].collect().toMap
    assert(c == Map(0L -> 0.5, 1L -> 0.5), c)
    // star 1,2,3 -> 0 with backlink 0 -> 1, one round by hand:
    // r1(0) = 0.0375 + 0.85*(3*0.25) = 0.675; r1(1) = 0.0375 + 0.85*0.25
    // = 0.25; r1(2) = r1(3) = 0.0375 (no in-edges)
    val star = Seq((1L, 0L), (2L, 0L), (3L, 0L), (0L, 1L)).toDF("src", "dst")
    val s1 = graft.ops.Graph.pageRank(star, "src", "dst", iters = 1)
      .as[(Long, Double)].collect().toMap
    assert(s1 == Map(0L -> 0.675, 1L -> 0.25, 2L -> 0.0375, 3L -> 0.0375),
      s1)
    // no dangling nodes -> total rank mass stays 1 through iterations
    val docs = spark.range(0, 200).select($"id".as("doc_id"))
    val edges = docs.select($"doc_id".as("src"),
        (($"doc_id" * 7 + 3) % 200).as("dst"))
      .unionByName(docs.select($"doc_id".as("src"),
        (($"doc_id" * 13 + 5) % 200).as("dst")))
    val mass = graft.ops.Graph.pageRank(edges, "src", "dst", iters = 5)
      .agg(sum("rank")).as[Double].head()
    assert(math.abs(mass - 1.0) < 1e-6, mass)
  }

  test("pageRank checkpointEvery truncates lineage without changing ranks") {
    val docs = spark.range(0, 200).select($"id".as("doc_id"))
    val edges = docs.select($"doc_id".as("src"),
        (($"doc_id" * 7 + 3) % 200).as("dst"))
      .unionByName(docs.select($"doc_id".as("src"),
        (($"doc_id" * 13 + 5) % 200).as("dst")))
    // 25 rounds with mid-loop checkpoints every 5: without truncation
    // this chains ~50 join/agg operators and analyzer cost grows
    // superlinearly with depth — completing promptly AND conserving
    // mass is the bounded-lineage assertion
    val start = System.nanoTime()
    val ck = graft.ops.Graph.pageRank(edges, "src", "dst", iters = 25,
      checkpointEvery = 5)
    val elapsedSec = (System.nanoTime() - start) / 1e9
    assert(elapsedSec < 120.0, s"25-round pageRank took ${elapsedSec}s")
    assert(math.abs(ck.agg(sum("rank")).as[Double].head() - 1.0) < 1e-6)
    // checkpoint cadence must not change values: same 8 rounds with and
    // without a mid-loop checkpoint land on identical 8dp ranks
    val a = graft.ops.Graph.pageRank(edges, "src", "dst", iters = 8,
      checkpointEvery = 3).as[(Long, Double)].collect().toMap
    val b = graft.ops.Graph.pageRank(edges, "src", "dst", iters = 8,
      checkpointEvery = 100).as[(Long, Double)].collect().toMap
    assert(a == b)
  }

  test("contrastivePairs: adjacent-chunk pairs, ragged tail, sub-chunk docs emit none") {
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5"), // chunks [t1 t2][t3 t4][t5] -> 2 pairs
      (2L, "a b"),            // one chunk -> nothing
      (3L, "")                // empty -> nothing
    ).toDF("doc_id", "text")
    val out = TextAnalysis.contrastivePairs(docs, "doc_id", "text",
        chunkTokens = 2)
      .as[(Long, Int, String, String)].collect().toSet
    assert(out == Set(
      (1L, 0, "t1 t2", "t3 t4"),
      (1L, 1, "t3 t4", "t5")), out)
    // map-only: no exchange in the plan
    val plan = TextAnalysis.contrastivePairs(docs, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("scriptProfile: per-script counts, tie order, and the mixed-script spam signal") {
    val docs = Seq(
      (1L, "hello world 42"), // latin 10, digit 2, space 2
      (2L, "привет"),         // cyrillic 6
      (3L, "你好"),            // han 2
      (4L, "مرحبا"),          // arabic 5
      (5L, "mixеd"),     // latin 4 + ONE Cyrillic 'е' — the
                              // homoglyph-obfuscation case: latin wins,
                              // minority count stays visible
      (6L, "123 456"),        // digits only -> none
      (7L, "")                // empty -> none
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scriptProfile(docs, "doc_id", "text")
      .as[(Long, Int, Int, Int, Int, Int, Int, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 10, 0, 0, 0, 2, 2, "latin")), out(1L))
    assert(out(2L) == ((2L, 0, 6, 0, 0, 0, 0, "cyrillic")), out(2L))
    assert(out(3L) == ((3L, 0, 0, 2, 0, 0, 0, "han")), out(3L))
    assert(out(4L) == ((4L, 0, 0, 0, 5, 0, 0, "arabic")), out(4L))
    assert(out(5L) == ((5L, 4, 1, 0, 0, 0, 0, "latin")), out(5L))
    assert(out(6L)._8 == "none" && out(7L)._8 == "none", (out(6L), out(7L)))
  }

  test("ngramDiversity: hand-counted ratios; short docs contribute nothing at large n") {
    val docs = Seq(
      ("X", "a b a b"),   // uni 4/2, bi [a b, b a, a b] 3/2, tri 2/2
      ("Y", "z")          // uni 1/1; NO bi/tri rows (no fabricated grams)
    ).toDF("source", "text")
    val out = TextAnalysis.ngramDiversity(docs, "source", "text")
      .as[(String, Int, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out(("X", 1)) == ((4L, 2L, 0.5)), out)
    assert(out(("X", 2)) == ((3L, 2L, 0.666667)), out)
    assert(out(("X", 3)) == ((2L, 2L, 1.0)), out)
    assert(out(("Y", 1)) == ((1L, 1L, 1.0)), out)
    assert(!out.contains(("Y", 2)) && !out.contains(("Y", 3)), out)
  }

  test("fimTransform: PSM parses back to the original token stream; pass-through rows untouched") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextAnalysis.fimTransform(docs, "doc_id", "text", fimRate = 0.5)
      .select($"doc_id", $"text", $"fim_applied", $"text_fim")
      .as[(Long, String, Boolean, String)].collect()
    assert(out.exists(_._3) && out.exists(!_._3), "both branches populated")
    out.foreach { case (id, text, applied, fim) =>
      if (!applied) assert(fim == text, id)
      else {
        // parse <fim_prefix> P <fim_suffix> S <fim_middle> M -> P+M+S
        // must be EXACTLY the original token stream (lossless rewrite)
        val sufAt = fim.indexOf(" <fim_suffix> ")
        val midAt = fim.indexOf(" <fim_middle> ")
        assert(fim.startsWith("<fim_prefix> ") && sufAt >= 0 &&
          midAt > sufAt, id)
        val p = fim.substring("<fim_prefix> ".length, sufAt)
        val sEnd = fim.substring(sufAt + " <fim_suffix> ".length, midAt)
        val m = fim.substring(midAt + " <fim_middle> ".length)
        val rebuilt = s"$p $m $sEnd".trim.split("\\s+").filter(_.nonEmpty).toSeq
        val orig = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
        assert(rebuilt == orig, id)
      }
    }
    // md5-deterministic: a second run is bit-identical
    val again = TextAnalysis.fimTransform(docs, "doc_id", "text", 0.5)
      .select($"doc_id", $"text", $"fim_applied", $"text_fim")
      .as[(Long, String, Boolean, String)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // short-doc grid (the corpus never exercises len 0..3): fimRate=1
    // forces the transform; reconstruction must hold down to one token,
    // and the empty doc must pass through untransformed
    val shorts = Seq((1L, ""), (2L, "a"), (3L, "a b"), (4L, "a b c"))
      .toDF("doc_id", "text")
    val sOut = TextAnalysis.fimTransform(shorts, "doc_id", "text",
        fimRate = 1.0)
      .select($"doc_id", $"text", $"fim_applied", $"text_fim")
      .as[(Long, String, Boolean, String)].collect()
    sOut.foreach { case (id, text, applied, fim) =>
      if (id == 1L) assert(!applied && fim == "", id)
      else {
        assert(applied, id)
        val sufAt = fim.indexOf(" <fim_suffix> ")
        val midAt = fim.indexOf(" <fim_middle> ")
        val p = fim.substring("<fim_prefix> ".length, sufAt)
        val sEnd = fim.substring(sufAt + " <fim_suffix> ".length, midAt)
        val m = fim.substring(midAt + " <fim_middle> ".length)
        val rebuilt = s"$p $m $sEnd".trim.split("\\s+")
          .filter(_.nonEmpty).toSeq
        assert(rebuilt == text.split(" ").toSeq, (id, fim))
      }
    }
  }

  test("fimTransform: refuses an input that already carries one of its temp columns") {
    val docs = Seq((1L, "a b c", 0.5)).toDF("doc_id", "text", "__fim_us")
    val e = intercept[IllegalArgumentException](
      TextAnalysis.fimTransform(docs, "doc_id", "text", fimRate = 1.0))
    assert(e.getMessage.contains("__fim_us"))
  }

  test("trainHashedLogReg: loss strictly decreases, gate separates the planted classes") {
    import spark.implicits._
    // the x88 fixture shape: 12-token truncation keeps full-batch GD
    // well-conditioned at lr=0.5 (see logRegFixture's scaladoc)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id",
        concat(concat_ws(" ", slice(TextAnalysis.tokens($"text"), 1, 12)),
          when($"doc_id" % 2 === 0, lit(" qpos qpos qpos qpos"))
            .otherwise(lit(" qneg qneg qneg qneg"))).as("text"),
        ($"doc_id" % 2 === 0).cast("int").as("y"))
    val m = TextAnalysis.trainHashedLogReg(docs, "text", "y",
      buckets = 64, epochs = 5, lr = 0.5, useBigrams = false)
    // full-batch GD on a separable fixture: every epoch must improve
    assert(m.losses.size == 5)
    m.losses.sliding(2).foreach { case Seq(a, b) => assert(b < a, m.losses) }
    // trajectory covers every (epoch, bucket) incl the -1 bias rows
    assert(m.trajectory.size == 5 * 65)
    assert(m.weights.length == 64)
    // the trained gate separates the classes it was trained on
    val scored = TextAnalysis.hashedLinearScore(docs, "doc_id", "text",
      m.weights, bias = m.bias, useBigrams = false)
    val acc = scored.select(avg((col("label") === (col("y") === 1))
      .cast("double"))).as[Double].head()
    assert(acc > 0.95, s"accuracy $acc")
    // bigram featurization trains and scores through the same contract
    val mb = TextAnalysis.trainHashedLogReg(docs, "text", "y",
      buckets = 128, epochs = 3, lr = 0.3)
    val accB = TextAnalysis.hashedLinearScore(docs, "doc_id", "text",
        mb.weights, bias = mb.bias)
      .select(avg((col("label") === (col("y") === 1)).cast("double")))
      .as[Double].head()
    assert(accB > 0.9, s"bigram accuracy $accB")
  }

  test("bpeEncode: learn->encode round trip preserves content, merges only shrink") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def mergesOf(n: Int) = graft.ops.TextAnalysis
      .bpeLearn(docs, "text", numMerges = n)
      .orderBy("merge_idx")
      .as[(Int, String, String, Long)].collect()
      .map(r => (r._2, r._3)).toSeq
    val enc = graft.ops.TextAnalysis.bpeEncode(docs, "text", mergesOf(20))
      .select(col("doc_id"),
        array_join(col("bpe_tokens"), "").as("glued"),
        concat_ws("",
          graft.ops.TextAnalysis.tokens(lower(col("text")))).as("expected"),
        col("n_bpe_tokens"))
    // segmentation never alters content: gluing the symbols back
    // reproduces the concatenated lowercased tokens exactly, every doc
    assert(enc.filter(col("glued") =!= col("expected")).isEmpty)
    // more merges can only shrink (or hold) the symbol count
    val n20 = enc.agg(sum("n_bpe_tokens")).as[Long].head()
    val n5 = graft.ops.TextAnalysis.bpeEncode(docs, "text", mergesOf(5))
      .agg(sum("n_bpe_tokens")).as[Long].head()
    assert(n20 <= n5, s"$n20 vs $n5")
    // boundary adversaries: a rule (l, r) must match whole SYMBOLS, not
    // substrings. [(t,h),(h,e)] on "the": after "th" forms, "h e" exists
    // as a plain substring of "th e" but the left symbol is 'th' -> must
    // stay ["th","e"], never fuse an out-of-vocab "the"
    def seg(merges: (String, String)*) = graft.ops.TextAnalysis
      .bpeEncode(Seq("the").toDF("text"), "text", merges)
      .select(array_join(col("bpe_tokens"), " ")).as[String].head()
    assert(seg(("t", "h"), ("h", "e")) == "th e")
    // and the mirrored case: 'h' must not match a PREFIX of symbol "he"
    assert(seg(("h", "e"), ("t", "h")) == "t he")
  }

  test("versionTokenDrift: planted churn surfaces as the top movers") {
    val v1 = Seq((1L, "a a b")).toDF("id", "text")
    val v2 = Seq((1L, "a b b c")).toDF("id", "text")
    val out = graft.ops.Versioning.versionTokenDrift(v1, v2, "text", k = 2)
      .select("token", "cnt_old", "cnt_new", "delta")
      .as[(String, Long, Long, Double)].collect().toSeq
    // p_old: a 2/3, b 1/3, c 0; p_new: a .25, b .5, c .25 ->
    // |delta|: a .41666667, c .25, b .16666667
    assert(out == Seq(("a", 2L, 1L, -0.41666667), ("c", 0L, 1L, 0.25)), out)
  }

  test("globalTokenOffsets: two-level scan equals the naive global running sum") {
    val df = Seq(
      (1L, "a", 10), (2L, "a", 5), (3L, "a", 7),
      (1L, "b", 100), (4L, "b", 1),
      (9L, "c", 3)
    ).toDF("doc_id", "shard", "n_tokens")
    val out = graft.ops.Packing.globalTokenOffsets(df, "shard", "doc_id",
        "n_tokens")
      .select("shard", "doc_id", "offset").as[(String, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // naive oracle: running sum over the (shard, doc_id) global order
    assert(out == Map(
      ("a", 1L) -> 0L, ("a", 2L) -> 10L, ("a", 3L) -> 15L,
      ("b", 1L) -> 22L, ("b", 4L) -> 122L,
      ("c", 9L) -> 123L), out)
  }

  test("sequenceAssignments: hand-traced incidences, conservation, full interior sequences") {
    // L=4, one shard: d1 c=3 (o=0), d2 c=5 (o=3) -> d2 spans the seq0/seq1
    // cut: 1 token in seq0 at position 3, 4 tokens fill seq1; the
    // zero-token doc occupies no sequence and must not shift offsets
    // (it contributes 0 to the prefix sum)
    val df = Seq((1L, "a", 3), (2L, "a", 5), (0L, "a", 0))
      .toDF("doc_id", "shard", "n")
    val out = graft.ops.Packing.sequenceAssignments(df, "shard", "doc_id",
        "n", seqLen = 4L)
      .select("doc_id", "seq_id", "doc_start", "start_in_seq", "n_toks")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 0L, 0L, 0L, 3L),
      (2L, 0L, 0L, 3L, 1L),
      (2L, 1L, 1L, 0L, 4L)), out)
    // invariants on the real corpus at L=64: every doc's tokens are fully
    // assigned exactly once, and every interior sequence is exactly full
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"source",
        graft.ops.TextAnalysis.tokenCount($"text").as("n_tokens"))
    val asg = graft.ops.Packing.sequenceAssignments(docs, "source",
      "doc_id", "n_tokens", seqLen = 64L)
    val perDoc = asg.groupBy("doc_id").agg(sum("n_toks").as("got"))
      .join(docs.filter($"n_tokens" > 0), Seq("doc_id"))
      .filter($"got" =!= $"n_tokens").count()
    assert(perDoc == 0L, "token conservation per doc")
    val maxSeq = asg.agg(max("seq_id")).as[Long].head()
    val notFull = asg.filter($"seq_id" < maxSeq)
      .groupBy("seq_id").agg(sum("n_toks").as("t"))
      .filter($"t" =!= 64L).count()
    assert(notFull == 0L, "interior sequences must be exactly full")
  }

  test("hashedLinearScore: map-only plan, explode-formulation equality, zero-weight sigmoid") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha alpha"), (3L, ""))
      .toDF("doc_id", "text")
    val w = (0 until 32).map(i => ((i * 13 + 5) % 11 - 5) / 5.0).toArray
    val out = graft.ops.TextAnalysis.hashedLinearScore(df, "doc_id", "text",
      w, bias = 0.1)
    // zero shuffles: model rides as a literal, scoring is one projection
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
    // independent formulation: explode features, bucket, sum via groupBy —
    // different plan, same math (pins hashing, bigrams, and the fold)
    val toks = filter(split(trim(lower(col("text"))), "\\s+"),
      t => length(t) > 0)
    val nBg = greatest(size(toks) - 1, lit(0))
    val feats = concat(toks, zip_with(
      slice(toks, lit(1), nBg), slice(toks, lit(2), nBg),
      (x, y) => concat(x, lit("_"), y)))
    val wLit = array(w.map(lit(_)): _*)
    val expected = df
      .select(col("doc_id"), explode(feats).as("f"))
      .withColumn("b", pmod(
        conv(substring(md5(col("f").cast("binary")), 1, 8), 16, 10)
          .cast("long"), lit(32L)))
      .groupBy("doc_id")
      .agg(sum(element_at(wLit, col("b").cast("int") + 1)).as("z"))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-(col("z") + 0.1))), 6).as("s"))
      .as[(Long, Double)].collect().toMap
    val got = out.select("doc_id", "score").as[(Long, Double)]
      .collect().toMap
    assert(got(1L) == expected(1L) && got(2L) == expected(2L), (got, expected))
    // empty doc: no features -> sigmoid(bias) exactly
    assert(got(3L) == math.round(1e6 / (1.0 + math.exp(-0.1))) / 1e6)
    // n_features = unigrams + bigrams
    val nf = out.select("doc_id", "n_features").as[(Long, Int)]
      .collect().toMap
    assert(nf == Map(1L -> 5, 2L -> 3, 3L -> 0), nf)
  }

  test("boilerplateFilters flags code, lorem ipsum, js walls, short docs") {
    val df = Seq(
      (1L, "a perfectly ordinary sentence with enough words to pass."),
      (2L, "function() { return 42; } and some more filler words here"),
      (3L, "Lorem Ipsum dolor sit amet consectetur adipiscing elit sed"),
      (4L, "please enable JavaScript to view this site properly thanks"),
      (5L, "too short")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateFilters(df)
      .select("doc_id", "keep", "ends_terminal")
      .as[(Long, Boolean, Boolean)].collect()
      .map { case (id, k, e) => id -> ((k, e)) }.toMap
    assert(out(1L) == ((true, true)))   // clean, terminal period
    assert(out(2L)._1 == false)         // curly brace -> code
    assert(out(3L)._1 == false)         // lorem ipsum
    assert(out(4L)._1 == false)         // javascript wall
    assert(out(5L)._1 == false)         // under minWords
  }

  test("contamination: benchmark members read 1.0, disjoint docs 0.0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally different words entirely here now"),
      (3L, "alpha beta gamma delta unrelated tail words")).toDF("doc_id", "text")
    val bench = docs.filter($"doc_id" === 1)
    val out = TextAnalysis.contamination(docs, bench, "doc_id", "text", n = 3)
      .select("doc_id", "contamination").as[(Long, Double)].collect().toMap
    assert(out(1L) == 1.0)
    assert(out(2L) == 0.0)
    assert(out(3L) > 0.0 && out(3L) < 1.0) // shares the leading shingles only
  }

  test("decontaminateParagraphs excises hit paragraphs and reassembles the rest") {
    val docs = Seq(
      (1L, "keep one alpha beta\n\nthe secret bench question here\n\nkeep two gamma"),
      (2L, "only clean content stays"),
      (3L, "the secret bench question here") // fully contaminated
    ).toDF("doc_id", "text")
    val bench = Seq("xx the secret bench question here yy").toDF("text")
    val out = TextAnalysis
      .decontaminateParagraphs(docs, bench, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 1L, "keep one alpha beta\n\nkeep two gamma")))
    assert(out(2L) == ((2L, 1L, 0L, "only clean content stays")))
    // fully-contaminated doc keeps its row with empty text (stats +
    // downstream length filters see it)
    assert(out(3L) == ((3L, 1L, 1L, "")))
    // a sub-n-token paragraph matches on its whole-text shingle only
    val short = Seq((9L, "tiny para\n\nxy zz")).toDF("doc_id", "text")
    val b2 = Seq("xy zz").toDF("text")
    assert(TextAnalysis.decontaminateParagraphs(short, b2, "doc_id", "text")
      .as[(Long, Long, Long, String)].head() == ((9L, 2L, 1L, "tiny para")))
  }

  test("repetitionStats: fully repeated text scores high, unique text zero") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "every word here is completely unique")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs)
      .select("doc_id", "n_ngrams", "n_distinct_ngrams", "repetition")
      .as[(Long, Int, Int, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((5, 1, 0.8))) // 5 bigrams, all "spam spam"
    assert(out(2L)._3 == 0.0)
  }

  test("hashed and string shingle paths agree on contamination and repetition") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma something else entirely different"),
      (3L, "spam spam spam spam spam")).toDF("doc_id", "text")
    val bench = docs.filter($"doc_id" === 1)
    def cRows(hashed: Boolean) =
      TextAnalysis.contamination(docs, bench, "doc_id", "text", 3, hashed)
        .select("doc_id", "n_shingles", "n_hits").as[(Long, Long, Long)]
        .collect().toSet
    assert(cRows(hashed = true) == cRows(hashed = false))
    def rRows(hashed: Boolean) =
      TextAnalysis.repetitionStats(docs, "text", 2, hashed)
        .select("doc_id", "n_ngrams", "n_distinct_ngrams")
        .as[(Long, Int, Int)].collect().toSet
    assert(rRows(hashed = true) == rRows(hashed = false))
  }

  test("native TokenProfile quality/langid match the explode+aggregate forms") {
    // the map-only expressions must reproduce the aggregate formulations
    // value-for-value over the real multi-language corpus (incl. the sf
    // table's accents/punctuation), plus a zero-token row
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
      .unionByName(Seq((99999L, "   ")).toDF("doc_id", "text"))
    val qCols = Seq("doc_id", "char_len", "token_cnt", "avg_token_len",
      "stopword_cnt", "stopword_ratio", "alpha_ratio", "quality_score")
    val qFast = TextAnalysis.qualityMetrics(docs)
      .select(qCols.map(col): _*).collect().toSet
    val qAgg = TextAnalysis.qualityMetricsAgg(docs)
      .select(qCols.map(col): _*).collect().toSet
    assert(qFast == qAgg)
    val lFast = TextAnalysis.languageId(docs)
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toSet
    val lAgg = TextAnalysis.languageIdAgg(docs)
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toSet
    assert(lFast == lAgg)
  }

  test("tokens handles empty and multi-space strings") {
    val out = Seq("", "  ", " a  b ").toDF("text")
      .select(size(TextAnalysis.tokens(col("text"))).as("n"))
      .as[Int].collect().toSeq
    assert(out == Seq(0, 0, 2))
  }

  test("quality metrics compute ratios on crafted input") {
    val df = Seq((1L, "the cat sat on a mat !!")).toDF("doc_id", "text")
    val m = TextAnalysis.qualityMetrics(df)
      .select("token_cnt", "stopword_cnt", "punct_cnt").head()
    assert(m.getInt(0) == 7)
    assert(m.getInt(1) == 2) // the, a
    assert(m.getInt(2) == 2) // !!
  }

  test("quality metrics: zero-token doc yields zero counts and score, not nulls") {
    val df = Seq((1L, "   ")).toDF("doc_id", "text")
    val m = TextAnalysis.qualityMetrics(df)
      .select("token_cnt", "stopword_cnt", "quality_score").head()
    assert(m.getInt(0) == 0 && m.getInt(1) == 0)
    assert(!m.isNullAt(2))
  }

  test("languageId picks dominant stopword profile, unknown when no hits") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der hund und die katze ist ein tier"),
      (3L, "xyzzy qwerty zorp")).toDF("doc_id", "text")
    val out = TextAnalysis.languageId(df)
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "unknown"))
  }

  test("native MinMaxXor fingerprint matches the explode+aggregate form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
      .unionByName(Seq((99999L, "")).toDF("doc_id", "text")) // empty text
    val cols = Seq("doc_id", "fp_min", "fp_max", "fp_xor")
    val fast = TextAnalysis.fingerprint(docs)
      .select(cols.map(col): _*).as[(Long, Long, Long, Long)].collect().toSet
    val agg = TextAnalysis.fingerprintAgg(docs)
      .select(cols.map(col): _*).as[(Long, Long, Long, Long)].collect().toSet
    assert(fast == agg)
  }

  test("fingerprint is deterministic and identical for identical text") {
    val df = Seq((1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j"),
      (3L, "totally different words here man pad to eight tokens ok")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(df, "doc_id", "text")
      .select("doc_id", "fp_min", "fp_max", "fp_xor")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("chatValidate: each malformation is caught; clean conversations pass") {
    def doc(id: Long, text: String) = (id, text)
    val df = Seq(
      doc(1L, "system: s\nuser: hi\nassistant: hello\nuser: more\nassistant: sure"),
      doc(2L, "preamble junk\nuser: hi\nassistant: yo"),       // unknown turn
      doc(3L, "user: a\nuser: b\nassistant: c"),               // double user
      doc(4L, "user: hi\nassistant:"),                         // empty target
      doc(5L, "assistant: unprompted\nuser: hm"),              // starts wrong
      doc(6L, "user: only\nassistant: fine")                   // no system: ok
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.chatValidate(
        graft.ops.TextAnalysis.chatTurns(df, "doc_id", "text"))
      .select($"doc_id", $"n_unknown", $"n_empty_assistant",
        $"starts_with_user", $"alternates", $"valid")
      .as[(Long, Long, Long, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._6 && out(6L)._6, (out(1L), out(6L)))
    assert(out(2L)._2 == 1L && !out(2L)._6, out(2L))
    assert(!out(3L)._5 && !out(3L)._6, out(3L))
    assert(out(4L)._3 == 1L && !out(4L)._6, out(4L))
    assert(!out(5L)._4 && !out(5L)._6, out(5L))
  }

  test("gopherQualityRules: each rule fires on its planted violator only") {
    val good = (1 to 30).map(i => s"word$i").mkString(" ")
    val df = Seq(
      (1L, good),                                        // passes all
      (2L, "- a list\n- of bullets\n- only bullets"),    // bullet frac 1.0
      (3L, good + "...\ntrailing thought…\nplain end"),  // ellipsis 2/3
      (4L, good + " # # # # # # #"),                     // symbol flood
      (5L, (1 to 30).map(_.toString).mkString(" ")),     // no alpha words
      (6L, "tiny doc"),                                  // under min words
      (7L, good + " superduperhyperlongword".repeat(40)) // mean len > 10
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.gopherQualityRules(df, "text",
        minWords = 10)
      .select($"doc_id", $"bullet_line_frac", $"ellipsis_line_frac",
        $"symbol_ratio", $"alpha_word_frac", $"gopher_pass")
      .as[(Long, Double, Double, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._6, out(1L))
    assert(out(2L)._2 == 1.0 && !out(2L)._6, out(2L))
    assert(out(3L)._3 == 0.666667 && !out(3L)._6, out(3L))
    assert(out(4L)._4 > 0.1 && !out(4L)._6, out(4L))
    assert(out(5L)._5 == 0.0 && !out(5L)._6, out(5L))
    assert(!out(6L)._6, out(6L))
    assert(!out(7L)._6, out(7L))
  }

  test("native GopherCounts is value-identical to the builtin-HOF spelling") {
    import spark.implicits._
    val cols = Seq($"doc_id", $"n_words", $"mean_word_len", $"symbol_ratio",
      $"bullet_line_frac", $"ellipsis_line_frac", $"alpha_word_frac",
      $"gopher_pass")
    def run(df: org.apache.spark.sql.DataFrame) = {
      val native = graft.ops.TextAnalysis
        .gopherQualityRules(df, "text", minWords = 5)
        .select(cols: _*).orderBy($"doc_id").collect().toSeq
      val hof = graft.ops.TextAnalysis
        .gopherQualityRulesHof(df, "text", minWords = 5)
        .select(cols: _*).orderBy($"doc_id").collect().toSeq
      assert(native == hof,
        s"native=$native\nhof=$hof")
    }
    // adversarial corner cases for every count the expression computes:
    // whitespace flavors, dot-run boundaries, the regex-$ line-terminator
    // grace, space-only trim semantics, surrogate-pair code points, nulls
    val tricky: Seq[(Long, String)] = Seq(
      1L -> "plain words only here now",
      2L -> "",
      3L -> null,
      4L -> "   ",
      5L -> "\t\n\f\r mixed \t ws",
      6L -> "dots... mid..... and .. short . runs ......",
      7L -> "# one ## two #…# mixed … ellipses …",
      8L -> "- bullet\n  * spaced bullet\n\t- tab first\n• uni",
      9L -> "ends dots...\ntrailing cr...\r\nuni end…\nno end",
      10L -> "line end… grace\nx... \nx...y\r",
      11L -> "emoji 💯word astral 😀 alone",
      12L -> "   \n  \n\t\n- x ...\n...",
      13L -> "...\n…\r\n.....\n....x",
      14L -> ("a" * 3 + "." * 7 + " " + "." * 3),
      15L -> "123 456 a1 1a _x x_ -dash *star")
    run(tricky.toDF("doc_id", "text"))
    run(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text"))
  }

  test("blocklistFilter: whole-token and boundary-safe phrase matching, case-folded") {
    val df = Seq(
      (1L, "clean text only here"),
      (2L, "has the BADWORD twice badword yes"),      // case-folded tokens
      (3L, "classic harassment of substrings"),       // NO substring match
      (4L, "two word phrase appears two word here"),  // phrase once
      (5L, "embedtwo word phraseology"),              // boundary-crossing: no
      (6L, "badword and two word both")
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.blocklistFilter(df, "text",
        Seq("badword", "two word", "sword"))
      .select($"doc_id", $"n_blocked_tokens", $"n_blocked_phrases", $"blocked")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((0L, 0L, false)), out)
    assert(out(2L) == ((2L, 0L, true)), out)   // occurrences, not distinct
    assert(out(3L) == ((0L, 0L, false)), out)  // "sword" != substring of words
    assert(out(4L) == ((0L, 1L, true)), out)   // phrase counted once per term
    assert(out(5L) == ((0L, 0L, false)), out)  // "embedtwo word phraseology"
    assert(out(6L) == ((1L, 1L, true)), out)
  }

  test("blocklistFilterScaled: frame-equal to blocklistFilter, incl. big lists") {
    // the hand fixture above, through the automaton
    val df = Seq(
      (1L, "clean text only here"),
      (2L, "has the BADWORD twice badword yes"),
      (3L, "classic harassment of substrings"),
      (4L, "two word phrase appears two word here"),
      (5L, "embedtwo word phraseology"),
      (6L, "badword and two word both"),
      (7L, "a a a"),                 // overlapping boundary spaces
      (8L, "x two word two word y")  // phrase twice -> still presence=1
    ).toDF("doc_id", "text")
    val terms = Seq("badword", "two word", "sword", "a")
    def frame(f: (org.apache.spark.sql.DataFrame, String, Seq[String]) =>
        org.apache.spark.sql.DataFrame, ts: Seq[String]) =
      f(df, "text", ts)
        .select($"doc_id", $"n_blocked_tokens", $"n_blocked_phrases",
          $"blocked")
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(frame(graft.ops.TextAnalysis.blocklistFilterScaled, terms) ==
      frame(graft.ops.TextAnalysis.blocklistFilter, terms))
    // a generated list at the top of what the contains-chain formulation
    // SURVIVES — beyond ~2.5k terms blocklistFilter's per-term Column
    // tree stack-overflows at plan conversion, which is the scale
    // argument in one line (the automaton run below goes to 20k).
    // Suffix-sharing phrases exercise the fail chain: " b c " is a
    // suffix of " a b c " in padded space.
    val big = (0 until 300).map(i => s"t$i") ++
      Seq("a b c", "b c", "c d e", "d e") ++
      (0 until 60).map(i => s"p$i q$i")
    val soup = Seq(
      (1L, "a b c d e"), (2L, "t7 t7 p3 q3"), (3L, "q3 p3"),
      (4L, "t299 c d e x")).toDF("doc_id", "text")
    def frames(f: (org.apache.spark.sql.DataFrame, String, Seq[String]) =>
        org.apache.spark.sql.DataFrame) =
      f(soup, "text", big)
        .select($"doc_id", $"n_blocked_tokens", $"n_blocked_phrases",
          $"blocked")
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val acBig = frames(graft.ops.TextAnalysis.blocklistFilterScaled)
    assert(acBig == frames(graft.ops.TextAnalysis.blocklistFilter))
    // sanity of the suffix-chain row: "a b c d e" hits phrases
    // a b c, b c, c d e, d e -> 4 distinct present
    assert(acBig.find(_._1 == 1L).get._3 == 4L)
    // the automaton alone at a size the contains chain cannot plan
    val huge = (0 until 20000).map(i => s"h$i") ++ Seq("needle term")
    val hugeGot = graft.ops.TextAnalysis.blocklistFilterScaled(
        Seq((1L, "x h19999 needle term h0"), (2L, "clean here"))
          .toDF("doc_id", "text"), "text", huge)
      .select($"doc_id", $"n_blocked_tokens", $"n_blocked_phrases")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(hugeGot == Seq((1L, 2L, 1L), (2L, 0L, 0L)))
    // the projection stays inside whole-stage codegen
    val ranged = spark.range(0, 8).select($"id".as("doc_id"),
      concat(lit("a b c"), when($"id" % 2 === 0, lit(" badword"))
        .otherwise(lit(""))).as("text"))
    val plan = graft.ops.TextAnalysis.blocklistFilterScaled(
        ranged, "text", terms)
      .queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) project \\[[^\\]]*multipatternstats".r
      .findFirstIn(plan.toLowerCase).isDefined, plan.take(500))
  }

  test("contaminationBloom: never misses a contaminated doc; fpp sized per document") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val bench = docs.filter($"doc_id" % 10 === 1).select($"text")
    val exact = graft.ops.TextAnalysis.contamination(
        docs, bench, "doc_id", "text", n = 3)
      .select($"doc_id", ($"n_hits" > 0).as("hit"))
    val bloom = graft.ops.TextAnalysis.contaminationBloom(
        docs, bench, "doc_id", "text", n = 3)
      .select($"doc_id", $"maybe_contaminated", $"n_shingles")
    val j = exact.join(bloom, Seq("doc_id")).collect()
      .map(r => (r.getBoolean(1), r.getBoolean(2))).toSeq
    // one-sided error: every exact hit is flagged (NO false negatives)
    assert(j.forall { case (hit, flag) => !hit || flag }, "missed contamination")
    assert(j.count(_._1) > 0, "fixture must plant contamination")
    // per-document fpp: at 1e-6 over ~100-shingle docs, false positives
    // on a 500-doc corpus are ~0 (the 0.01 default would flag ~63%)
    assert(j.count { case (hit, flag) => !hit && flag } <= 2, j.count {
      case (hit, flag) => !hit && flag })
    // empty text -> zero shingles -> never flagged, no crash
    val empty = graft.ops.TextAnalysis.contaminationBloom(
        Seq((1L, "")).toDF("doc_id", "text"), bench, "doc_id", "text")
      .as[(Long, String, Long, Boolean)].collect()
    assert(!empty.head._4)
  }

  test("chatTurns: preamble, continuations, mangled headers, empty content; mask by role") {
    val transcript =
      "stray preamble line\n" +           // role-less -> turn 0, unknown
      "system: be helpful\n" +
      "user: what is spark\n" +
      "assistant: a distributed engine\n" +
      "with lazy evaluation\n" +          // continuation of assistant
      "\n" +                              // EMPTY continuation line, kept
      "USER  :   thanks\n" +              // case + spaces around colon
      "Assistant:"                        // empty content turn
    val df = Seq((7L, transcript)).toDF("doc_id", "text")
    val turns = graft.ops.TextAnalysis.chatLossMask(
        graft.ops.TextAnalysis.chatTurns(df, "doc_id", "text"))
      .orderBy($"turn_idx")
      .as[(Long, Long, String, String, Long, Boolean)].collect()
    assert(turns.map(t => (t._2, t._3, t._4)).toSeq == Seq(
      (0L, "unknown", "stray preamble line"),
      (1L, "system", "be helpful"),
      (2L, "user", "what is spark"),
      (3L, "assistant", "a distributed engine\nwith lazy evaluation\n"),
      (4L, "user", "thanks"),
      (5L, "assistant", "")), turns.toSeq)
    // mask: only assistant turns train; token counts span continuation lines
    assert(turns.map(t => (t._2, t._6)).toSeq ==
      Seq((0L, false), (1L, false), (2L, false), (3L, true), (4L, false),
        (5L, true)))
    assert(turns.find(_._2 == 3L).get._5 == 6L) // 6 tokens across 3 lines
    // a doc with no headers at all is one unknown turn, not dropped
    val bare = graft.ops.TextAnalysis.chatTurns(
        Seq((8L, "just plain text\ntwo lines")).toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, Long, String, String)].collect()
    assert(bare.toSeq == Seq((8L, 0L, "unknown", "just plain text\ntwo lines")))
  }

  test("dsirImportance: target-marked docs outrank, empty doc scores zero, scoring is map-only") {
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // plant a target signature: even docs carry the marker tokens the
    // target corpus is made of; odd docs carry a different tail
    val raw = base.select($"doc_id",
      concat(concat_ws(" ", slice(TextAnalysis.tokens($"text"), 1, 12)),
        when($"doc_id" % 2 === 0, lit(" tgtmark tgtmark tgtmark"))
          .otherwise(lit(" rawonly rawonly rawonly"))).as("text"))
    val target = raw.filter($"doc_id" % 2 === 0)
    val scored = TextAnalysis.dsirImportance(raw, target, "text",
      buckets = 128, alpha = 0.01, useBigrams = false)
    val byParity = scored.groupBy(($"doc_id" % 2 === 0).as("isTgt"))
      .agg(avg($"log_weight").as("w")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byParity(true) > byParity(false),
      s"target-like docs must outrank: $byParity")
    // deterministic across runs (md5 hashing, 6dp-rounded model state)
    val again = TextAnalysis.dsirImportance(raw, target, "text",
      buckets = 128, alpha = 0.01, useBigrams = false)
    assert(scored.select("doc_id", "log_weight").except(
      again.select("doc_id", "log_weight")).isEmpty)
    // empty doc: no features, weight exactly 0
    val empty = TextAnalysis.dsirImportance(
      Seq((1L, "")).toDF("doc_id", "text"), target, "text",
      buckets = 128, useBigrams = false)
      .select($"n_features", $"log_weight").head()
    assert(empty.getInt(0) == 0 && empty.getDouble(1) == 0.0)
    // the scoring stage itself is map-only: no Exchange anywhere in its plan
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring must not shuffle:\n$plan")
  }

  test("native md5 n-gram buckets bit-identical to the builtin-HOF oracle spelling") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (bigrams <- Seq(true, false)) {
      val native = docs.select($"doc_id",
          graft.functions.Md5ShingleFunctions.md5_ngram_buckets(
            TextAnalysis.tokens(lower($"text")), 64, bigrams).as("b"))
        .as[(Long, Seq[Int])].collect().toMap
      val hof = docs.select($"doc_id",
          TextAnalysis.hashedNgramBucketsHof("text", 64, bigrams).as("b"))
        .as[(Long, Seq[Int])].collect().toMap
      assert(native == hof, s"bigrams=$bigrams: native != HOF")
      assert(native.values.exists(_.nonEmpty))
    }
    // single-token and empty docs: bigram leg contributes nothing
    val one = Seq((1L, "solo"), (2L, "")).toDF("doc_id", "text")
    val b = one.select($"doc_id",
        graft.functions.Md5ShingleFunctions.md5_ngram_buckets(
          TextAnalysis.tokens(lower($"text")), 64, true).as("b"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(b(1L).size == 1 && b(2L).isEmpty)
  }

  test("dsirLogProbs: probabilities normalize and smoothing covers empty buckets") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta"),
      (3L, "alpha")).toDF("doc_id", "text")
    val lp = TextAnalysis.dsirLogProbs(docs, "text", buckets = 32,
      alpha = 0.5, useBigrams = false)
    assert(lp.length == 32)
    // sum of exp(logp) ~ 1 (6dp rounding tolerance)
    val mass = lp.map(math.exp).sum
    assert(math.abs(mass - 1.0) < 1e-3, s"mass $mass")
    // every bucket has smoothed non-zero probability
    assert(lp.forall(v => v > math.log(1e-6)))
  }

  test("stupidBackoffNll: the three-tier cascade matches hand-computed values") {
    import spark.implicits._
    // model trigram counts: (a,b,c) (b,c,a) (c,a,b) (a,b,d); c(ab)=2;
    // N=6 tokens, V=4 types
    val model = Seq("a b c a b d").toDF("text")
    val docs = Seq(
      (1L, "a b c"),   // tier 1: c(abc)/c(ab) = 1/2
      (2L, "b b c"),   // tier 2: trigram unseen, 0.4 * c(bc)/c(b) = 0.4 * 1/2
      (3L, "x y z"),   // tier 3: all unseen, 0.16 * (0+0.5)/(6+0.5*4)
      (4L, "a b")      // too short: 0 trigrams, nll 0
    ).toDF("doc_id", "text")
    val out = TextAnalysis.stupidBackoffNll(model, docs, "doc_id", "text",
        lam = 0.4, k = 0.5)
      .orderBy($"doc_id")
      .as[(Long, Long, Double)].collect()
    assert(out(0) == ((1L, 1L, math.rint(math.log(2.0) * 1e6) / 1e6)))
    assert(out(1) == ((2L, 1L, math.rint(-math.log(0.2) * 1e6) / 1e6)))
    assert(out(2) == ((3L, 1L, math.rint(-math.log(0.01) * 1e6) / 1e6)))
    assert(out(3) == ((4L, 0L, 0.0)))
  }

  test("stupidBackoffNll: self-scoring never backs off; fixture fires every tier") {
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(120)
    // self-scoring: every doc trigram exists in the model, so the worst
    // per-position surprisal is bounded by the rarest seen trigram
    // (-ln(1/c12max)); spot-check via a tier-count probe — rebuild the
    // cascade tiers by scoring docs whose every trigram is seen
    val self = TextAnalysis.stupidBackoffNll(base, base, "doc_id", "text")
    assert(self.filter($"n_trigrams" > 0).count() > 0)
    // prepend-last-token rotation + unseen tail every 5th doc: the query
    // fixture; all three tiers must actually occur for x117 to be an
    // honest exercise of the cascade
    val toks = TextAnalysis.tokens(lower($"text"))
    val mutated = base.select($"doc_id",
      concat_ws(" ", element_at(toks, -1), $"text",
        when($"doc_id" % 5 === 0, lit("zzqx zzqy")).otherwise(lit(""))).as("text"))
    val scored = TextAnalysis.stupidBackoffNll(base, mutated, "doc_id", "text")
    // every doc still emitted, and the unseen-tail docs score strictly
    // higher on average than the clean rotations
    assert(scored.count() == 120)
    val m = scored.groupBy(($"doc_id" % 5 === 0).as("tail"))
      .agg(avg($"sb_nll").as("a")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(m(true) > m(false), s"unseen-tail docs must score higher: $m")
  }

  test("charEntropyProfile: hand values, surrogate pairs count as one code point, map-only codegen") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaa"),                  // one symbol: 0 bits
      (2L, "ab"),                    // two equiprobable: 1 bit
      (3L, "abcd"),                  // four equiprobable: 2 bits
      (4L, ""),                      // empty: 0 by contract
      (5L, "\ud834\udd1e\ud834\udd1eaa") // U+1D11E x2 + 'a' x2: 1 bit over CODE POINTS
    ).toDF("doc_id", "text").repartition(2)
    val out = TextAnalysis.charEntropyProfile(docs, "doc_id", "text")
    val got = out.select($"doc_id", $"n_chars", $"char_entropy", $"low_entropy")
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 4L, 0.0, true)))
    assert(got(1) == ((2L, 2L, 1.0, true)))
    assert(got(2) == ((3L, 4L, 2.0, false)))
    assert(got(3) == ((4L, 0L, 0.0, true)))
    // a UTF-16-code-unit counter would read 1.584963 here
    assert(got(4)._3 == 1.0, s"surrogate handling: ${got(4)}")
    out.collect()
    // only the test's own repartition may exchange; the profile adds none
    val finalPlan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(finalPlan).size <= 1,
      s"profile must be map-only:\n$finalPlan")
  }

  test("ngramNovelty: hand-counted fractions, short docs emit zero") {
    import spark.implicits._
    val ref = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b c"),        // abc seen -> 0.0
      (2L, "a b x"),        // abx novel -> 1.0
      (3L, "a b c x y"),    // abc seen, bcx + cxy novel -> 2/3
      (4L, "a b")           // too short -> 0 grams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, ref, "doc_id", "text", n = 3)
      .orderBy($"doc_id").as[(Long, Long, Long, Double)].collect()
    assert(out(0) == ((1L, 1L, 0L, 0.0)))
    assert(out(1) == ((2L, 1L, 1L, 1.0)))
    assert(out(2) == ((3L, 3L, 2L, 0.666667)))
    assert(out(3) == ((4L, 0L, 0L, 0.0)))
    // a doc scored against itself as reference is never novel
    val self = TextAnalysis.ngramNovelty(ref, ref, "doc_id", "text", n = 3)
      .select($"novelty").as[Double].head()
    assert(self == 0.0)
  }
}
