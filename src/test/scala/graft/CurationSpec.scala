package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.datax.Curation

/** Semantics specs for the corpus-curation operators (boilerplate
  * removal, unigram-LM scoring, stratified sampling, sequence packing,
  * mixture weights) on crafted fixtures — the edge cases the synthetic
  * corpus doesn't exercise. */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  // ---- boilerplate removal ----

  test("boilerplate: shared chunk removed, unique text kept in order") {
    // chunk size 3: "cookie banner text" opens both docs -> boilerplate
    val d = docs(
      1L -> "cookie banner text alpha beta gamma delta epsilon zeta",
      2L -> "cookie banner text one two three four five six")
    val r = Curation.boilerplateChunks(d, "doc_id", "text", chunkTokens = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(r(0) == ((1L, 3L, 2L, "alpha beta gamma delta epsilon zeta")))
    assert(r(1) == ((2L, 3L, 2L, "one two three four five six")))
  }

  test("boilerplate: fully-boilerplate doc yields empty cleaned text; unique doc untouched") {
    val d = docs(
      1L -> "cookie banner text",
      2L -> "cookie banner text",
      3L -> "entirely unique words here")
    val r = Curation.boilerplateChunks(d, "doc_id", "text", chunkTokens = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(r(0) == ((1L, 1L, 0L, "")))
    assert(r(1) == ((2L, 1L, 0L, "")))
    assert(r(2) == ((3L, 2L, 2L, "entirely unique words here")))
  }

  test("boilerplate: repeats WITHIN one doc don't count as cross-doc") {
    // same chunk twice in one doc: distinct-doc count is 1 -> kept
    val d = docs(
      1L -> "aa bb cc aa bb cc",
      2L -> "totally different words here")
    val r = Curation.boilerplateChunks(d, "doc_id", "text", chunkTokens = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(r(0) == ((1L, 2L, 2L, "aa bb cc aa bb cc")))
  }

  // ---- unigram LM ----

  test("unigramLm: in-vocab docs score high, OOV docs score zero") {
    // "the" dominates the corpus; vocabSize=1 -> vocab = {the}
    val d = docs(
      1L -> "the the the the",
      2L -> "zz yy xx ww")
    val r = Curation.unigramLm(d, "doc_id", "text", vocabSize = 1)
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(_._1)
    val (_, n1, inv1, oov1, p1) = r(0)
    assert(n1 == 4 && inv1 == 4 && oov1 == 0.0)
    assert(p1 == 0.5, "p(the) = 4/8 per token, mean = 0.5")
    val (_, n2, inv2, oov2, p2) = r(1)
    assert(n2 == 4 && inv2 == 0 && oov2 == 1.0 && p2 == 0.0)
  }

  test("unigramLm: vocab ties break on token asc; counts include every occurrence") {
    // aa and bb both count 2 -> vocab of 1 keeps aa (token asc)
    val d = docs(1L -> "aa bb aa bb")
    val r = Curation.unigramLm(d, "doc_id", "text", vocabSize = 1)
      .as[(Long, Long, Long, Double, Double)].collect().head
    assert(r._3 == 2, "only the two aa occurrences are in-vocab")
    assert(r._4 == 0.5)
  }

  // ---- stratified sample ----

  test("stratifiedSample: smallest group keeps everything; larger groups thin toward the cap") {
    val d = (0L until 40L).map(i => (i, if (i < 4) "rare" else "common"))
      .toDF("doc_id", "lang")
    val r = Curation.stratifiedSample(d, "doc_id", "lang")
      .as[(Long, String, Int, Int, Boolean)].collect()
    val rare = r.filter(_._2 == "rare")
    assert(rare.forall(_._4 == 10000), "cap group threshold = 10000")
    assert(rare.forall(_._5), "smallest group keeps every row")
    val common = r.filter(_._2 == "common")
    assert(common.forall(_._4 == (10000 * 4) / 36))
    assert(common.count(_._5) < common.length, "larger group actually thins")
    assert(r.forall(x => x._3 >= 0 && x._3 < 10000))
    // determinism: identical keep set on re-run
    val again = Curation.stratifiedSample(d, "doc_id", "lang")
      .as[(Long, String, Int, Int, Boolean)].collect()
    assert(r.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  // ---- sequence packing ----

  test("packSequences: fills bins to the budget, opens a new bin on overflow") {
    // one shard (ids all ≡ 1 mod 32): docs of 50,50,50 tokens, budget 128
    // -> bins [50+50], [50]
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, words(50)), (33L, words(50)), (65L, words(50)))
      .toDF("doc_id", "text")
    val r = Curation.packSequences(d, "doc_id", "text", budget = 128, shards = 32)
      .as[(Long, Int, Int, Int, Int)].collect().sortBy(_._1)
    assert(r(0) == ((1L, 1, 0, 0, 50)))
    assert(r(1) == ((33L, 1, 0, 50, 50)))
    assert(r(2) == ((65L, 1, 1, 0, 50)), "third doc overflows -> new bin")
  }

  test("packSequences: oversized doc gets its own bin; shards pack independently") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (0L, words(10)), (32L, words(200)), (64L, words(10)), // shard 0
      (1L, words(10))) // shard 1
      .toDF("doc_id", "text")
    val r = Curation.packSequences(d, "doc_id", "text", budget = 128, shards = 32)
      .as[(Long, Int, Int, Int, Int)].collect().sortBy(_._1)
    assert(r(0) == ((0L, 0, 0, 0, 10)))
    assert(r(1) == ((1L, 1, 0, 0, 10)), "other shard starts at bin 0")
    assert(r(2) == ((32L, 0, 1, 0, 200)), "oversized doc alone in its bin")
    assert(r(3) == ((64L, 0, 2, 0, 10)), "next doc can't join an overfull bin")
  }

  test("packSequences: no bin exceeds the budget except single-doc bins") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val d = (0L until 100L).map(i => (i, words(1 + (i % 60).toInt)))
      .toDF("doc_id", "text")
    val bins = Curation.packSequences(d, "doc_id", "text", budget = 64, shards = 4)
      .groupBy("shard", "bin")
      .agg(org.apache.spark.sql.functions.sum("n_tokens").as("fill"),
        org.apache.spark.sql.functions.count("*").as("n"))
      .as[(Int, Int, Long, Long)].collect()
    assert(bins.forall(b => b._3 <= 64 || b._4 == 1),
      s"overfull multi-doc bin: ${bins.filter(b => b._3 > 64 && b._4 > 1).toSeq}")
  }

  // ---- per-source cap ----

  test("domainCap ranks by quality desc within source, caps keep at maxPerGroup") {
    // source A: 3 docs, cap 2 -> the worst-quality one is dropped.
    // "zzzz 1234 !!!!" is all-non-alpha-heavy garbage -> lowest quality.
    val d = Seq(
      (1L, "the cat sat on the mat and then it slept", "A"),
      (2L, "the dog ran in the park and then it ate", "A"),
      (3L, "zzzz 1234 !!!! ???? 0000", "A"),
      (4L, "only doc in this source", "B"))
      .toDF("doc_id", "text", "source")
    val r = Curation.domainCap(d, "doc_id", "source", "text", maxPerGroup = 2)
      .select("doc_id", "source", "rank", "keep")
      .as[(Long, String, Int, Boolean)].collect().sortBy(_._1)
    assert(r.filter(_._2 == "A").count(_._4) == 2, "cap of 2 kept in A")
    assert(!r(2)._4 && r(2)._3 == 3, "garbage doc ranked last and dropped")
    assert(r(3)._4 && r(3)._3 == 1, "singleton source keeps its doc")
  }

  test("domainCap ties break by doc_id asc (identical text -> identical quality)") {
    val d = Seq((5L, "same words here", "A"), (2L, "same words here", "A"))
      .toDF("doc_id", "text", "source")
    val r = Curation.domainCap(d, "doc_id", "source", "text", maxPerGroup = 1)
      .select("doc_id", "rank").as[(Long, Int)].collect().toMap
    assert(r(2L) == 1 && r(5L) == 2)
  }

  // ---- deterministic shuffle ----

  test("corpusShuffle: a permutation — contiguous positions per shard, deterministic, seed-sensitive") {
    val d = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val r = Curation.corpusShuffle(d, "doc_id", seed = "s1", nShards = 4)
      .as[(Long, Int, Int)].collect()
    assert(r.length == 200 && r.map(_._1).distinct.length == 200)
    assert(r.forall(x => x._2 >= 0 && x._2 < 4))
    // positions within a shard are 1..n with no gaps
    r.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq)
    }
    val again = Curation.corpusShuffle(d, "doc_id", seed = "s1", nShards = 4)
      .as[(Long, Int, Int)].collect()
    assert(r.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq, "same seed, same order")
    val other = Curation.corpusShuffle(d, "doc_id", seed = "s2", nShards = 4)
      .as[(Long, Int, Int)].collect()
    assert(r.sortBy(_._1).toSeq != other.sortBy(_._1).toSeq, "new seed reshuffles")
    // the order is not the identity (md5 actually scrambles)
    val inOrder = r.filter(_._2 == r(0)._2).sortBy(_._3).map(_._1).toSeq
    assert(inOrder != inOrder.sorted, "shard order differs from id order")
  }

  // ---- overlapping chunking ----

  test("chunkSequences: stride windows cover the doc, tail partial, short doc = one chunk") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // 20 tokens, window 8, stride 4: starts 0,4,8,12 (ceil((20-8)/4)=3)
    val d = Seq((1L, words(20)), (2L, words(5))).toDF("doc_id", "text")
    val r = Curation.chunkSequences(d, "doc_id", "text",
        windowTokens = 8, strideTokens = 4)
      .as[(Long, Int, Int, Int, String)].collect().sortBy(x => (x._1, x._2))
    val doc1 = r.filter(_._1 == 1L)
    assert(doc1.map(x => (x._3, x._4)).toSeq ==
      Seq((0, 8), (4, 8), (8, 8), (12, 8)), "starts 0,4,8,12 all full-width")
    assert(doc1.head._5 == (1 to 8).map(i => s"w$i").mkString(" "))
    assert(doc1.last._5 == (13 to 20).map(i => s"w$i").mkString(" "))
    val doc2 = r.filter(_._1 == 2L)
    assert(doc2.map(x => (x._3, x._4)).toSeq == Seq((0, 5)),
      "doc within one window -> single partial chunk")
    // every token position is covered by some chunk
    assert(doc1.flatMap(x => x._3 until (x._3 + x._4)).distinct.length == 20)
  }

  test("chunkSequences: tail shorter than the window is emitted partial") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // 10 tokens, window 8, stride 8 -> starts 0 (8 toks), 8 (2 toks)
    val d = Seq((1L, words(10))).toDF("doc_id", "text")
    val r = Curation.chunkSequences(d, "doc_id", "text",
        windowTokens = 8, strideTokens = 8)
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._2)
    assert(r.map(x => (x._3, x._4)).toSeq == Seq((0, 8), (8, 2)))
    assert(r.last._5 == "w9 w10")
  }

  // ---- mixture weights ----

  test("mixWeights: shares sum to 1; uniform corpus gets weight 1") {
    val d = Seq(
      (1L, "a b c d", "s1"), (2L, "e f g h", "s1"),
      (3L, "i j k l m n o p", "s2"))
      .toDF("doc_id", "text", "source")
    val r = Curation.mixWeights(d, "source", "text")
      .as[(String, Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(r.map(_._4).sum == 1.0)
    // both sources hold 8 of 16 tokens -> uniform -> weight 1.0
    assert(r.forall(x => x._4 == 0.5 && x._5 == 1.0))
    val skewed = Seq((1L, "a b c d e f", "s1"), (2L, "x y", "s2"))
      .toDF("doc_id", "text", "source")
    val w = Curation.mixWeights(skewed, "source", "text")
      .as[(String, Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(w(0)._5 < 1.0 && w(1)._5 > 1.0,
      "over-represented source down-weighted, under-represented up-weighted")
  }

  // ---- importance weights (DSIR shape) ----

  test("importanceWeights: target-like text outranks off-target text; short docs get zero") {
    import org.apache.spark.sql.functions.col
    // target docs (1, 2) share a bigram vocabulary disjoint from the
    // non-target docs; doc 3 repeats the target's bigrams, doc 4 the
    // off-target ones, doc 5 is too short for any bigram
    val d = Seq(
      (1L, "aa bb aa bb aa"), (2L, "aa bb cc aa bb"),
      (3L, "aa bb aa bb"), (4L, "xx yy xx yy"), (5L, "solo"))
      .toDF("doc_id", "text")
    val r = Curation.importanceWeights(d, "doc_id", "text",
        isTarget = col("doc_id") <= 2, buckets = 64)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    val byId = r.map(x => x._1 -> x).toMap
    assert(byId(3L)._3 > byId(4L)._3,
      "doc repeating target bigrams must outscore doc repeating off-target bigrams")
    // NOTE: no absolute target_like assertion for doc 3 — on a
    // 14-bigram corpus the add-1 smoothing terms (+1, +buckets)
    // dominate the ratios and push everything below 1; the threshold
    // only separates at corpus scale (253/500 fire at sf0.01). The
    // ORDERING is the fixture-scale invariant.
    assert(!byId(4L)._4, "off-target doc must never read as target-like")
    assert(byId(5L) == ((5L, 0L, 0.0, false)), "sub-bigram doc: zero features")
    assert(byId(1L)._2 == 4L, "n bigrams = n tokens - 1")
  }

  // ---- token-budget selection ----

  test("tokenBudgetSelect: banded cum_tokens is the exact global prefix sum; keep is a quality-order prefix") {
    // enough docs with varied quality to span multiple bands even at
    // bands=4 — the band-offset arithmetic is what's under test
    val d = (1L to 40L).map { i =>
      val junk = Seq.fill((i % 7).toInt)("!!!").mkString(" ")
      (i, s"the quick brown fox number $i jumps over the lazy dog $junk")
    }.toDF("doc_id", "text")
    val budget = 200L
    val r = Curation.tokenBudgetSelect(d, "doc_id", "text", budget, bands = 4)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(r.length == 40)
    // cum_tokens sorted ascending IS the quality-desc walk: its values
    // must be the running sum of n_tokens in that same order
    val walk = r.sortBy(_._3)
    var run = 0L
    walk.foreach { case (_, n, cum, keep) =>
      run += n
      assert(cum == run, s"banded prefix sum diverged at cum=$cum (expect $run)")
      assert(keep == (cum <= budget))
    }
    val kept = r.filter(_._4).map(_._2).sum
    assert(kept <= budget && kept > 0)
  }

  test("tokenBudgetSelect: budget below the best doc keeps nothing; huge budget keeps all") {
    val d = Seq((1L, "one two three"), (2L, "four five six seven"))
      .toDF("doc_id", "text")
    val none = Curation.tokenBudgetSelect(d, "doc_id", "text", 2L)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(none.forall(!_._4))
    val all = Curation.tokenBudgetSelect(d, "doc_id", "text", 100L)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(all.forall(_._4) && all.map(_._3).max == 7L)
  }

  // ---- snapshot diff / data card ----

  test("snapshotDiff classifies added/removed/changed/unchanged by normalized fingerprint") {
    val prev = docs(1L -> "gone forever", 2L -> "stable doc", 3L -> "old body")
    val cur = docs(2L -> "STABLE   doc", 3L -> "new body", 4L -> "fresh doc")
    val r = Curation.snapshotDiff(prev, cur, "doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(r == Seq(1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "added"),
      "case/whitespace-only edits are UNCHANGED (normalized fingerprint), " +
        "real edits are changed")
    // membership is presence, not fingerprint nullness: a NULL-text doc
    // present in both snapshots is unchanged; null -> text is changed
    val p2 = Seq((7L, null: String), (8L, null: String)).toDF("doc_id", "text")
    val c2 = Seq((7L, null: String), (8L, "now has text")).toDF("doc_id", "text")
    val r2 = Curation.snapshotDiff(p2, c2, "doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(r2 == Seq(7L -> "unchanged", 8L -> "changed"))
  }

  test("curation caches follow the shared datax release lifecycle (d45/d46)") {
    spark.sqlContext.clearCache() // isolate from other suites' leftovers
    val d = (0 until 60).map { i =>
      (i.toLong, s"alpha beta w$i gamma delta", i % 2 == 0)
    }.toDF("doc_id", "text", "tgt")
    Curation.importanceWeights(d, "doc_id", "text", $"tgt").collect()
    Curation.tokenBudgetSelect(d, "doc_id", "text", budgetTokens = 100L).collect()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "importanceWeights/tokenBudgetSelect cache their reused relations")
    graft.datax.Dedup.releaseShingleCaches()
    assert(spark.sharedState.cacheManager.isEmpty,
      "releaseShingleCaches drops the curation-registered caches too")
  }

  test("dataCard: one CUBE pass yields per-dim slices and the grand total") {
    val d = Seq(
      (1L, "web", "en", "one two three"),
      (2L, "web", "de", "eins zwei"),
      (3L, "books", "en", "a b c d"))
      .toDF("doc_id", "source", "lang", "text")
    val card = Curation.dataCard(d, "text", Seq("source", "lang"))
      .as[(Option[String], Option[String], Long, Long, Long, Long)].collect()
      .map(x => (x._1.getOrElse("*"), x._2.getOrElse("*"), x._3, x._4, x._5, x._6))
      .toSet
    assert(card == Set(
      ("web", "en", 1L, 3L, 0L, 0L), ("web", "de", 1L, 2L, 0L, 0L),
      ("books", "en", 1L, 4L, 0L, 0L),
      ("web", "*", 2L, 5L, 0L, 1L), ("books", "*", 1L, 4L, 0L, 1L),
      ("*", "en", 2L, 7L, 1L, 0L), ("*", "de", 1L, 2L, 1L, 0L),
      ("*", "*", 3L, 9L, 1L, 1L)))
  }

  test("dataCard: GROUPING markers distinguish a genuinely-NULL dim from a subtotal") {
    // two docs with NULL lang: the (web, NULL-lang) GROUP and the (web,
    // all-langs) SUBTOTAL produce rows identical in every dim — only
    // g_lang tells them apart (the released-summary ambiguity this
    // operator's markers exist for)
    val d = Seq(
      (1L, "web", null: String, "one two"),
      (2L, "web", null: String, "three"),
      (3L, "web", "en", "four five six"))
      .toDF("doc_id", "source", "lang", "text")
    val rows = Curation.dataCard(d, "text", Seq("source", "lang"))
      .filter($"source" === "web" && $"lang".isNull)
      .as[(Option[String], Option[String], Long, Long, Long, Long)].collect()
      .map(x => (x._5, x._6, x._3, x._4)).toSet
    assert(rows == Set(
      (0L, 0L, 2L, 3L),  // the real NULL-lang group: 2 docs, 3 tokens
      (0L, 1L, 3L, 6L)), // the per-source subtotal: all 3 docs, 6 tokens
      s"got $rows")
  }

  test("NULL-text docs get a row from every per-doc curation operator " +
       "(never silently dropped)") {
    // review finding: zero token rows meant the doc vanished from the
    // aggregate-shaped operators with no audit trail. Contract now:
    // every input doc gets a row — explicit fail/zero/undefined values.
    val d = Seq((1L, Some("alpha beta alpha")), (2L, None))
      .toDF("doc_id", "text")
    // unigramLm: zero counts, NULL (undefined) rates
    val lm = Curation.unigramLm(d, "doc_id", "text", vocabSize = 1)
      .orderBy("doc_id").collect()
    assert(lm.length == 2, s"doc 2 missing from unigramLm: ${lm.toSeq}")
    assert(lm(1).getLong(1) == 0L && lm(1).getLong(2) == 0L)
    assert(lm(1).isNullAt(3) && lm(1).isNullAt(4),
      "no tokens -> rates are UNDEFINED (null), not 0")
    // tokenBudgetSelect: the null-quality doc takes the sentinel band,
    // ranks LAST (the naive-window NULLS LAST order), and still emits —
    // with NULL n_tokens (NOT size()'s non-ANSI -1, which decremented
    // the running total) and cum equal to the real docs' total, exactly
    // the naive window where sum() skips the NULL
    val tb = Curation.tokenBudgetSelect(d, "doc_id", "text",
      budgetTokens = 100L).orderBy("doc_id").collect()
    assert(tb.length == 2, s"doc 2 missing from tokenBudgetSelect: ${tb.toSeq}")
    assert(tb(0).getBoolean(3), "the real doc fits the budget")
    assert(tb(0).getLong(2) == 3L, s"real doc cum = its 3 tokens: ${tb(0)}")
    assert(tb(1).isNullAt(1), s"null doc n_tokens must be NULL, not -1: ${tb(1)}")
    assert(tb(1).getLong(2) == 3L && tb(1).getBoolean(3),
      s"null doc cum = preceding total, keep follows it: ${tb(1)}")
    // chunkers (boilerplateChunks, chunkSequences): NO rows for a null
    // doc — not the phantom/garbage chunks size(null) = -1 produced
    // via a descending sequence (review finding)
    val bp = Curation.boilerplateChunks(d, "doc_id", "text",
      chunkTokens = 3, minDocs = 2).collect()
    assert(bp.map(_.getLong(0)).toSeq == Seq(1L),
      s"null doc must yield no boilerplate rows: ${bp.toSeq}")
    assert(bp.head.getLong(1) == 1L, s"real doc has its one chunk: ${bp.head}")
    val cs = Curation.chunkSequences(d, "doc_id", "text",
      windowTokens = 2, strideTokens = 2).collect()
    assert(cs.map(_.getLong(0)).distinct.toSeq == Seq(1L),
      s"null doc must yield no chunk rows: ${cs.toSeq}")
    assert(cs.forall(_.getInt(3) >= 0), s"no negative token counts: ${cs.toSeq}")
    // qualityFilter: explicit fail with the null_text reason
    val qf = graft.datax.TextStats.qualityFilter(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(qf.length == 2, s"doc 2 missing from qualityFilter: ${qf.toSeq}")
    assert(!qf(1).getBoolean(1) && qf(1).getString(2) == "null_text",
      s"null text must FAIL with an audited reason: ${qf(1)}")
    // repetition: zero grams, dup_fraction 0.0 — and sub-n-token docs
    // land the same way
    val rep = graft.datax.TextStats.repetition(
        d.union(Seq((3L, Some("one two"))).toDF("doc_id", "text")),
        "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    assert(rep.length == 3, s"docs missing from repetition: ${rep.toSeq}")
    assert(rep(0).getLong(1) == 1L, s"3-token doc has its one trigram: ${rep(0)}")
    for (r <- Seq(rep(1), rep(2)))
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L && r.getDouble(3) == 0.0,
        s"gram-less doc must land at (0, 0, 0.0): $r")
    // importanceWeights: zero features, 0.0 ratio, not target-like —
    // and single-token docs (zero bigrams) land the same way
    val iw = Curation.importanceWeights(
        d.union(Seq((3L, Some("solo"))).toDF("doc_id", "text")),
        "doc_id", "text",
        isTarget = org.apache.spark.sql.functions.col("doc_id") === 1L)
      .orderBy("doc_id").collect()
    assert(iw.length == 3, s"docs missing from importanceWeights: ${iw.toSeq}")
    assert(iw(0).getLong(1) == 2L, s"real doc has its 2 bigrams: ${iw(0)}")
    for (r <- Seq(iw(1), iw(2)))
      assert(r.getLong(1) == 0L && r.getDouble(2) == 0.0 && !r.getBoolean(3),
        s"gram-less doc must land at (0, 0.0, false): $r")
  }
}
