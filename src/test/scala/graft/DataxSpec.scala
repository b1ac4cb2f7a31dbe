package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.datax.{Dedup, Similarity, TextStats}
import graft.datax.Similarity.IndexSpec

/** Semantics specs for the scale-pipeline operators (dedup / similarity /
  * text analysis) — the behaviors the DuckDB oracle cannot express
  * (xxhash64-based ops) plus edge cases on crafted fixtures. */
class DataxSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  // ---- text stats ----

  test("splitBucket/splitName: in-range, deterministic, roughly proportional") {
    val ids = spark.range(0, 2000).toDF("id")
    val assigned = ids.select($"id",
      TextStats.splitBucket($"id").as("b"), TextStats.splitName($"id").as("s"))
    val buckets = assigned.agg(min("b"), max("b")).head()
    assert(buckets.getInt(0) >= 0 && buckets.getInt(1) < 100)
    val counts = assigned.groupBy("s").count()
      .as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "valid", "test"))
    assert(counts("train") > 1400 && counts("train") < 1800, s"~80%: $counts")
    // determinism: same ids, same assignment, any run
    val again = ids.select(TextStats.splitName($"id")).as[String].collect()
    assert(assigned.select("s").as[String].collect().toSeq == again.toSeq)
  }

  test("PII counts and redaction: emails, urls, phones; clean text untouched") {
    val d = docs(
      1L -> "write a@b.com or see https://x.org/d?q=1 or call +1 (555) 123-4567 now",
      2L -> "no pii here at all")
    val r = d.select($"doc_id", TextStats.piiCounts($"text").as("p"),
        TextStats.redactPii($"text").as("red"))
      .select($"doc_id", $"p.n_emails", $"p.n_urls", $"p.n_phones", $"red")
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(r(0)._2 == 1 && r(0)._3 == 1 && r(0)._4 == 1)
    assert(r(0)._5 == "write [EMAIL] or see [URL] or call [PHONE] now")
    assert(r(1)._2 == 0 && r(1)._3 == 0 && r(1)._4 == 0)
    assert(r(1)._5 == "no pii here at all", "redaction is identity on clean text")
  }

  test("contamination: containment catches a benchmark doc embedded in a larger one") {
    val corpus = docs(
      10L -> "alpha beta gamma delta epsilon zeta eta theta plus lots of extra words here",
      11L -> "totally unrelated content with nothing shared at all right")
    val bench = docs(1L -> "alpha beta gamma delta epsilon zeta eta theta")
    val hits = Dedup.contamination(corpus, bench, "doc_id", "text",
        k = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(hits.map(h => (h._1, h._2)) == Seq((1L, 10L)))
    assert(hits.head._3 == 1.0, "fully contained -> containment 1.0")
  }

  test("decontaminate drops contaminated corpus docs, keeps clean + sub-k ones, excludes bench") {
    spark.sqlContext.clearCache()
    val d = docs(
      10L -> "alpha beta gamma delta epsilon zeta eta theta plus lots of extra words here",
      11L -> "totally unrelated content with nothing shared at all right",
      12L -> "tiny doc", // sub-k: no shingles, cannot be contaminated
      29L -> "alpha beta gamma delta epsilon zeta eta theta") // bench (id % 29 == 0)
    val kept = Dedup.decontaminate(d, "doc_id", "text",
        isBench = _ % 29 === 0, k = 4, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(11L, 12L),
      "10 swallowed the bench doc -> dropped; bench row 29 excluded from output")
    assert(spark.sharedState.cacheManager.isEmpty,
      "decontaminate must release its shingle cache")
  }

  test("bloom-prefiltered contamination == exhaustive (lossless), empty bench safe") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val exact = Dedup.contaminationWithin(docs, "doc_id", "text",
        isBench = _ % 29 === 0, k = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val bloom = Dedup.contaminationBloomWithin(docs, "doc_id", "text",
        isBench = _ % 29 === 0, k = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(bloom == exact,
      "bloom prefilter must be lossless — no false negatives, FPs die in the exact join")
    assert(exact.nonEmpty, "fixture must actually exercise the pipeline")
    // no benchmark rows at all -> empty result, not a crash
    val none = Dedup.contaminationBloomWithin(docs, "doc_id", "text",
        isBench = _ => lit(false), k = 4, threshold = 0.5)
    assert(none.count() == 0)
    Dedup.releaseShingleCaches()
  }

  test("langId classifies marker-bearing sentences and CJK") {
    val d = docs(
      1L -> "the cat is in the house and it is warm",
      2L -> "der hund ist nicht in das haus und die katze",
      3L -> "le chat est dans la maison et les chiens",
      4L -> "el perro y los gatos es una casa en madrid",
      5L -> "你好世界",
      6L -> "zzz qqq xxx")
    val got = d.select($"doc_id", TextStats.langId($"text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es",
      5L -> "zh", 6L -> "und"))
  }

  test("token counts: ws vs bpe-ish") {
    val d = docs(1L -> "Hello, world! x2")
    val r = d.select(
      TextStats.tokenCountWs($"text"),
      TextStats.tokenCountBpe($"text")).head()
    assert(r.getInt(0) == 3) // [Hello,] [world!] [x2]
    assert(r.getInt(1) == 6) // [hello][,][world][!][x][2]
  }

  test("fingerprint is whitespace- and case-insensitive") {
    val d = docs(1L -> "A  B\tC", 2L -> "a b c", 3L -> "a b d")
    val fps = d.select(TextStats.fingerprint($"text")).as[String].collect()
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("qualityScore stays in [0,1] and penalizes junk") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog and it runs",
      2L -> "!!!! #### 1234 @@@@ %%%%")
    val q = d.orderBy("doc_id")
      .select(TextStats.qualityScore($"text")).as[Double].collect()
    assert(q.forall(x => x >= 0.0 && x <= 1.0))
    assert(q(0) > q(1))
  }

  // ---- shingles / dedup ----

  test("shingles: shorter than k -> empty, not descending-sequence garbage") {
    val d = docs(1L -> "one two three", 2L -> "one two three four five")
    val sh = d.orderBy("doc_id")
      .select(Dedup.shingles($"text", 4)).as[Seq[String]].collect()
    assert(sh(0).isEmpty)
    assert(sh(1) == Seq("one two three four", "two three four five"))
  }

  test("exactDupGroups groups whitespace/case variants") {
    val d = docs(1L -> "Spark is fast", 2L -> "spark  is   fast",
      3L -> "flink is ok")
    val g = Dedup.exactDupGroups(d, "doc_id", "text")
      .orderBy("representative")
      .select("representative", "n_docs").as[(Long, Long)].collect()
    assert(g.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("minhashNearDups finds exact and near duplicates, and is a subset of exhaustive jaccard") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = docs(
      1L -> base,
      2L -> base, // exact dup
      3L -> (base + " lambda"), // near dup
      4L -> "totally different words entirely unrelated content here now")
    val mh = Dedup.minhashNearDups(d, "doc_id", "text",
        k = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mh.contains((1L, 2L)))
    assert(mh.contains((1L, 3L)) && mh.contains((2L, 3L)))
    val exact = Dedup.jaccardPairs(d, "doc_id", "text", k = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mh.subsetOf(exact)) // LSH candidates are verified -> no false positives
    assert(!exact.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("sourceOverlap rolls near-dup pairs up to unordered source-pair counts") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = Seq(
      (1L, base, "wiki"),              // dup cluster {1,2,3}
      (2L, base, "crawl"),             //  across wiki/crawl/crawl
      (3L, base + " lambda", "crawl"),
      (4L, "totally different words entirely unrelated content here", "wiki"))
      .toDF("doc_id", "text", "source")
    val m = Dedup.sourceOverlap(d, "doc_id", "source", "text",
        k = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .as[(String, String, Long)].collect()
      .map(x => (x._1, x._2) -> x._3).toMap
    Dedup.releaseShingleCaches()
    // pairs: (1,2) wiki-crawl, (1,3) wiki-crawl, (2,3) crawl-crawl
    assert(m(("crawl", "wiki")) == 2L)
    assert(m(("crawl", "crawl")) == 1L)
    assert(m.size == 2, "unrelated doc 4 must contribute no row")
  }

  test("dupClusters: chain components collapse to the min-id representative") {
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L), (9L, 4L))
      .toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), // 1-2-3 chain
      (4L, 4L), (5L, 5L), (6L, 5L), (9L, 4L)))
    // the distributed label-propagation path (forced by driverMaxPairs=0)
    // must produce the identical clustering
    val dist = Dedup.dupClusters(pairs, driverMaxPairs = 0L).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(dist == got, "driver union-find == distributed min-label loop")
  }

  test("winnowing: a shared passage yields shared fingerprints at ANY offset") {
    val passage = "the quick brown fox jumps over the lazy dog near the river bank today"
    val d = docs(
      1L -> passage,
      2L -> ("completely different preamble words here and then " + passage),
      3L -> "nothing in common with anything else at all whatsoever truly")
    val fp = Dedup.winnowFingerprints(d, "doc_id", "text", k = 4, w = 4)
      .as[(Long, Long)].collect().toSeq.groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert((fp(1L) & fp(2L)).nonEmpty,
      "offset-shifted copy of the passage shares fingerprints")
    assert((fp(1L) & fp.getOrElse(3L, Set.empty)).isEmpty,
      "unrelated docs share nothing")
    // guarantee direction: every doc-1 fingerprint from the shared text
    // appears in doc 2 (its windows are a superset over the passage)
    assert(fp(1L).subsetOf(fp(2L)))
  }

  test("simhash: identical -> hamming 0; near-dup closer than unrelated") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val d = docs(1L -> base, 2L -> base, 3L -> (base + " extra"),
      4L -> "qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk ll zz")
    val sh = d.orderBy("doc_id")
      .select(Dedup.simhash64($"text")).as[Long].collect()
    assert(sh(0) == sh(1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0), sh(2)) < ham(sh(0), sh(3)))
  }

  test("embeddingNearDups: empty input -> empty output, not a crash") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Dedup.embeddingNearDups(empty, "vec_id", "embedding").count() == 0)
  }

  test("embeddingNearDups catches identical vectors via hyperplane buckets") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (4L, Array(-1.0f, 0.5f, -0.5f, 0.2f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(vecs, "vec_id", "embedding",
        planes = 2, threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("repetition flags duplicated n-grams; qualityFilter composes reasons") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam"), // one 3-gram repeated
      (2L, "a perfectly normal sentence with the usual variety of words in it"),
      (3L, "no"), // shorter than n tokens -> 0 ngrams, dup 0
      (4L, "x1 @@@ ##$ %%% !!! ??? &&& *** ((( )))")) // low alpha, short-ish
      .toDF("doc_id", "text")
    val rep = TextStats.repetition(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("n_ngrams", "n_distinct", "dup_fraction")
      .as[(Long, Long, Double)].collect()
    assert(rep(0) == ((8L, 1L, 7.0 / 8.0)), "10 identical tokens: 8 grams, 1 distinct")
    assert(rep(1)._1 == rep(1)._2 && rep(1)._3 == 0.0, "varied text has no dup grams")
    assert(rep(2) == ((0L, 0L, 0.0)), "sub-n docs are 0, not null/crash")

    val f = TextStats.qualityFilter(docs, "doc_id", "text")
      .orderBy("doc_id").select("keep", "reasons").as[(Boolean, String)].collect()
    assert(f(0) == ((false, "high_repetition")))
    assert(f(1) == ((true, "")))
    assert(f(2)._1 == false && f(2)._2.contains("too_short"))
    assert(f(3) == ((false, "low_alpha")), s"got ${f(3)}")
  }

  test("dedupCorpus keeps one representative per cluster, singletons untouched") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy dog at dawn today"), // near-dup
      (4L, "completely unrelated text about spark physical plans here"),
      (5L, "another singleton document with its own words entirely"),
      (6L, "tiny doc"), // shorter than k=4 tokens: invisible to MinHash
      (7L, "tiny  DOC")) // exact dup of 6 modulo whitespace/case (fingerprint)
      .toDF("doc_id", "text")
    // bands=8 (rows=2): band-collision odds at J~0.6 are ~97% vs a coin
    // flip at bands=4 — the d30 configuration
    val kept = Dedup.dedupCorpus(docs, "doc_id", "text", bands = 8,
        threshold = 0.4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L, 6L),
      "cluster {1,2,3} collapses to its min id; 4 and 5 pass through; " +
        "sub-k exact dup 7 drops via the fingerprint rule")
    // all original columns survive
    assert(Dedup.dedupCorpus(docs, "doc_id", "text", bands = 8,
      threshold = 0.4).columns.toSeq == Seq("doc_id", "text"))
  }

  test("planesFor keeps in-bucket pair expansion bounded as n grows 10x") {
    def randomVecs(n: Int, seed: Int) = {
      val rnd = new scala.util.Random(seed)
      // dim 32: enough dimensions that the plane signs are near-
      // independent (at tiny dims sign-patterns correlate and buckets
      // skew regardless of the plane count)
      (1 to n).map(i => (i.toLong,
        Array.fill(32)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    }
    // threshold = -1 passes every bucket collision through: the output
    // IS the candidate set the verify stage would have to pay for
    def candidates(n: Int): Long = {
      val planes = Dedup.planesFor(n)
      Dedup.embeddingNearDups(randomVecs(n, seed = 42), "vec_id", "embedding",
        planes = planes, threshold = -1.0).count()
    }
    val small = candidates(300)   // planesFor(300) = 5  -> ~32 buckets
    val large = candidates(3000)  // planesFor(3000) = 8 -> ~256 buckets
    // per-doc candidate load must stay bounded (expected occupancy <=16
    // means <= ~8 pairs/doc for random data; allow generous slack for
    // bucket skew)
    assert(large.toDouble / 3000 < 20.0,
      s"pair expansion grew superlinearly: $large candidates for 3000 docs")
    assert(large.toDouble / 3000 < 4.0 * math.max(1.0, small.toDouble / 300),
      s"per-doc load should stay flat: $small@300 vs $large@3000")
    // the contrast: a FIXED plane count at 10x n goes quadratic
    val fixedPlanes = Dedup.embeddingNearDups(randomVecs(3000, seed = 42),
      "vec_id", "embedding", planes = 4, threshold = -1.0).count()
    assert(fixedPlanes > 4 * large,
      s"fixed planes=4 should explode vs scaled planes: $fixedPlanes vs $large")
  }

  test("bandsFor: r follows the occupancy rule, L reaches the recall target") {
    // r must match planesFor (per-table cost bound)
    assert(Dedup.bandsFor(2000L, 0.9, 0.9)._2 == Dedup.planesFor(2000L))
    // L is the smallest table count with 1-(1-p^r)^L >= targetRecall
    val (l, r) = Dedup.bandsFor(1000000L, 0.9, 0.9)
    val p = 1.0 - math.acos(0.9) / math.Pi
    def recallAt(tables: Int) = 1.0 - math.pow(1.0 - math.pow(p, r), tables)
    assert(recallAt(l) >= 0.9, s"(L=$l, r=$r) misses the target")
    assert(l == 1 || recallAt(l - 1) < 0.9, s"L=$l is not minimal for r=$r")
    // an unreachable recall target clamps L to maxTables (loudly) instead
    // of building an astronomic plan or overflowing Int
    val (lClamped, _) = Dedup.bandsFor(1000000000L, threshold = 0.5,
      targetRecall = 0.9, maxTables = 64)
    assert(lClamped == 64, s"expected clamp to 64 tables, got $lClamped")
    val (lNeg, _) = Dedup.bandsFor(1000000000L, threshold = -0.99,
      targetRecall = 0.999)
    assert(lNeg == 64, "near--1 thresholds must clamp, not overflow toInt")
    // table 0 of the seeded family IS the legacy matrix (d10 oracle parity)
    assert(Dedup.planeSignsSeeded(0, 4, 16).toSeq.map(_.toSeq) ==
      Dedup.planeSigns(4, 16).toSeq.map(_.toSeq))
    // other tables are genuinely different draws
    assert(Dedup.planeSignsSeeded(1, 4, 16).toSeq.map(_.toSeq) !=
      Dedup.planeSigns(4, 16).toSeq.map(_.toSeq))
  }

  test("banded hyperplane LSH holds recall >= 0.9 at cosine 0.9 as n grows 10x") {
    val dim = 32
    // n/2 planted near-dup pairs at cosine ~0.95 (partner = v + noise of
    // ~1/3 relative norm), rest independent random vectors — the ground
    // truth is still measured by BRUTE FORCE, not by the plant list
    def corpus(n: Int, seed: Int) = {
      val rnd = new scala.util.Random(seed)
      (1 to n).flatMap { i =>
        val v = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
        if (i % 2 == 0) {
          val partner = v.map(x => x + (rnd.nextFloat() * 2 - 1) * 0.33f)
          Seq((i.toLong, v), (i.toLong + 1000000L, partner))
        } else Seq((i.toLong, v))
      }.toDF("vec_id", "embedding")
    }
    def bruteForce(vecs: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val v = vecs.select($"vec_id".as("id"),
        transform($"embedding", x => x.cast("double")).as("vec"))
      val withN = v.select($"id", $"vec", Similarity.norm($"vec").as("n"))
      withN.as("a").join(withN.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          (Similarity.dot(col("a.vec"), col("b.vec"))
            / (col("a.n") * col("b.n"))).as("c"))
        .filter($"c" >= 0.9)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    for (n <- Seq(200, 2000)) {
      val vecs = corpus(n, seed = 7)
      val truth = bruteForce(vecs)
      assert(truth.nonEmpty, s"n=$n: planted pairs must exist")
      val (tables, r) = Dedup.bandsFor(n.toLong, threshold = 0.9, targetRecall = 0.9)
      val found = Dedup.embeddingNearDupsBanded(vecs, "vec_id", "embedding",
          tables, r, threshold = 0.9)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(found.subsetOf(truth), s"n=$n: verified pairs can't be false positives")
      val recall = (found & truth).size.toDouble / truth.size
      assert(recall >= 0.9,
        s"n=$n (tables=$tables, r=$r): recall $recall < 0.9 " +
          s"(${found.size}/${truth.size})")
    }
  }

  test("fixed-parameter banded LSH trips the occupancy guard on an oversized corpus; maxOccupancy=None opts out") {
    // the d10a scale bug made un-silent (round 13): parameters sized for
    // a small corpus (here 2 tables x 2 planes — 4 buckets/table) handed
    // a corpus whose occupancy dwarfs the bandsFor design point. All
    // vectors identical -> every id lands in ONE bucket per table.
    val dim = 8
    def identicalCorpus(n: Int) = {
      val v = Array.tabulate(dim)(j => 0.1f * (j + 1))
      (1 to n).map(i => (i.toLong, v)).toDF("vec_id", "embedding")
    }
    // default bound (1024): 1100 colliding ids must raise LOUDLY at
    // execution, before any quadratic pair expansion runs
    val big = identicalCorpus(1100)
    val ex = intercept[Throwable] {
      Dedup.embeddingNearDupsBanded(big, "vec_id", "embedding",
        tables = 2, planesPerTable = 2, threshold = 0.9).count()
    }
    val chain = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(chain.contains("hot LSH bucket"),
      s"expected the occupancy tripwire, got:\n$chain")
    assert(chain.contains("maxOccupancy=None"),
      "the error must name the opt-out so the signal is actionable")
    // explicit opt-out (one knob since round 14: maxOccupancy=None —
    // the old allowHotBuckets+bound pair silently ignored the bound):
    // same shape, quadratic cost accepted, answer exact (all pairs of
    // identical vectors)
    val small = identicalCorpus(80)
    val n = Dedup.embeddingNearDupsBanded(small, "vec_id", "embedding",
      tables = 2, planesPerTable = 2, threshold = 0.9,
      maxOccupancy = None).count()
    assert(n == 80L * 79 / 2, s"opt-out path must still be exact, got $n")
    // and the guard honors a caller-supplied bound below default
    val ex2 = intercept[Throwable] {
      Dedup.embeddingNearDupsBanded(small, "vec_id", "embedding",
        tables = 2, planesPerTable = 2, threshold = 0.9,
        maxOccupancy = Some(64)).count()
    }
    val chain2 = Iterator.iterate(ex2)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(chain2.contains("hot LSH bucket"), s"custom bound ignored:\n$chain2")
    // round 14: the SINGLE-TABLE form now routes through the same
    // guard (it previously self-joined on bucket with no protection —
    // the 30x anchor measured its fixed-planes registry entry at 8.9x
    // wall for 3x data with nothing to trip)
    val ex3 = intercept[Throwable] {
      Dedup.embeddingNearDups(big, "vec_id", "embedding",
        planes = 2, threshold = 0.9).count()
    }
    val chain3 = Iterator.iterate(ex3)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(chain3.contains("hot LSH bucket"),
      s"single-table form must carry the occupancy guard too:\n$chain3")
  }

  test("opted-out LSH emits bucket-occupancy telemetry via observe()") {
    // verdict r13 #6: paths that legitimately run unguarded
    // (maxOccupancy=None — d39a's hot reroute, the auto-banded form)
    // must still surface candidate load. Planted hot corpus: 90
    // identical vectors -> every id in ONE bucket per table, so the
    // max observed occupancy must be exactly 90.
    val dim = 8
    val v = Array.tabulate(dim)(j => 0.1f * (j + 1))
    val hot = (1 to 90).map(i => (i.toLong, v)).toDF("vec_id", "embedding")
    val metrics = scala.collection.concurrent.TrieMap[String, Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (k, row) => metrics.put(k, row) }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val pairs = Dedup.embeddingNearDupsBanded(hot, "vec_id", "embedding",
        tables = 2, planesPerTable = 2, threshold = 0.9,
        maxOccupancy = None).count()
      assert(pairs == 90L * 89 / 2)
      // QueryExecutionListener delivery is async: poll with a deadline
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var row: Option[Row] = None
      while (row.isEmpty && System.nanoTime() < deadline) {
        // EXACT name (round 15): metric names derive from a stable
        // per-entrypoint tag, so pipelines key on them directly
        row = metrics.get("graft.lsh.occupancy.embedding_banded")
        if (row.isEmpty) Thread.sleep(50)
      }
      assert(row.nonEmpty, s"no graft.lsh.occupancy.embedding_banded metric; saw: ${metrics.keys}")
      assert(row.get.getAs[Int]("max_bucket_occupancy") == 90,
        s"expected max occupancy 90, got ${row.get}")
      assert(row.get.getAs[Long]("buckets") == 2L, // one hot bucket per table
        s"expected 2 buckets, got ${row.get}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("planted near-dups on the REAL embeddings table: bandsFor recall >= 0.9 at cosine 0.9") {
    // The synthetic embeddings are near-orthogonal (max pairwise cosine
    // ~0.5), so the r5 recall claims at the 0.9 design point were only
    // verifiable on hand-rolled vectors. ScaleData.plantNearDups is the
    // shared fixture: partners at expected cosine ~0.96 planted into the
    // real table; truth is BRUTE FORCE over the planted corpus, not the
    // plant list (a noise draw landing under 0.9 isn't truth).
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val planted = ScaleData.plantNearDups(emb, "vec_id", "embedding",
      every = 5, alpha = 0.5)
    val v = planted.select($"vec_id".as("id"),
      transform($"embedding", x => x.cast("double")).as("vec"))
    val withN = v.select($"id", $"vec", Similarity.norm($"vec").as("n"))
    val truth = withN.as("a").join(withN.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (Similarity.dot(col("a.vec"), col("b.vec"))
          / (col("a.n") * col("b.n"))).as("c"))
      .filter($"c" >= 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.size >= 50, s"plants must create real >=0.9 pairs, got ${truth.size}")
    val (tables, r) = Dedup.bandsFor(planted.count(), threshold = 0.9,
      targetRecall = 0.9)
    val found = Dedup.embeddingNearDupsBanded(planted, "vec_id", "embedding",
        tables, r, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found.subsetOf(truth), "verified pairs can't be false positives")
    val recall = (found & truth).size.toDouble / truth.size
    assert(recall >= 0.9,
      s"(tables=$tables, r=$r): recall $recall < 0.9 (${found.size}/${truth.size})")
  }

  test("dedupCorpus releases every internal cache; lazy pair APIs release on demand") {
    spark.sqlContext.clearCache()
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely unrelated text about spark physical plans here"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(docs, "doc_id", "text", bands = 8, threshold = 0.4)
    assert(kept.count() == 2)
    assert(spark.sharedState.cacheManager.isEmpty,
      "dedupCorpus must not leak InMemoryRelations after it returns")
    // a lazy pair API holds its shingle cache (its plan re-reads it) ...
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", bands = 8,
      threshold = 0.4)
    assert(pairs.count() == 1)
    assert(!spark.sharedState.cacheManager.isEmpty, "lazy API keeps its cache alive")
    // ... until the caller releases it
    Dedup.releaseShingleCaches()
    assert(spark.sharedState.cacheManager.isEmpty,
      "releaseShingleCaches must drop every registered shingle cache")
  }

  test("dupSpanRemoval drops corpus-duplicated k-gram spans, keeps the rest") {
    spark.sqlContext.clearCache()
    val d = docs(
      0L -> "a b c d e f a b c d x", // "a b c d" repeats WITHIN the doc
      1L -> "a b c d q r s t", // shares "a b c d" with doc 0 (cross-doc)
      2L -> "zz", // sub-k: no grams, untouched
      3L -> "unique words only here never repeated",
      4L -> "p q r s p q r s") // every position covered -> empty survivor
    val r = Dedup.dupSpanRemoval(d, "doc_id", "text", k = 4, minCount = 2)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(r(0) == ((0L, "e f x", 11L, 8L)),
      "within-doc repeat covers both occurrences")
    assert(r(1) == ((1L, "q r s t", 8L, 4L)),
      "cross-doc duplicated prefix is removed")
    assert(r(2) == ((2L, "zz", 1L, 0L)), "sub-k docs pass through")
    assert(r(3) == ((3L, "unique words only here never repeated", 6L, 0L)))
    assert(r(4) == ((4L, "", 8L, 8L)),
      "a fully-duplicated doc reduces to the empty string, not a missing row")
    Dedup.releaseShingleCaches()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("incrementalNearDups pairs the batch against the index only") {
    val batch = docs(
      10L -> "the quick brown fox jumps over the lazy dog tonight",
      11L -> "an utterly different batch document about query planners",
      12L -> "an utterly different batch document about query planners")
    val index = docs(
      1L -> "the quick brown fox jumps over the lazy dog at dawn today",
      2L -> "standing corpus text with no relation to anything above",
      3L -> "standing corpus text with no relation to anything above at all")
    val pairs = Dedup.incrementalNearDups(batch, index, "doc_id", "text",
        bands = 8, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 1L)),
      "batch->index pairs only: batch-batch (11,12) and index-index (2,3) " +
        "duplicates never pair in the incremental face")
    Dedup.releaseShingleCaches()
  }

  test("prebanded incremental dedup == direct form; sidecars replace corpus-side work") {
    spark.sqlContext.clearCache()
    val batch = docs(
      10L -> "the quick brown fox jumps over the lazy dog tonight",
      11L -> "an utterly different batch document about query planners")
    val index = docs(
      1L -> "the quick brown fox jumps over the lazy dog at dawn today",
      2L -> "standing corpus text with no relation to anything above")
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val direct = collectPairs(Dedup.incrementalNearDups(batch, index,
      "doc_id", "text", bands = 8, threshold = 0.4))
    Dedup.releaseShingleCaches()
    // the stored band table (what a deployment keeps next to the corpus)
    val stored = Dedup.bandSignatures(index, "doc_id", "text", bands = 8)
    val pre = collectPairs(Dedup.incrementalNearDups(batch, index,
      "doc_id", "text", bands = 8, threshold = 0.4,
      indexBands = Some(stored)))
    Dedup.releaseShingleCaches()
    assert(pre == direct && direct.nonEmpty,
      "precomputed bands give bit-identical pairs (same jaccard values)")
    // dedupIncrement with sidecars == without
    val plain = Dedup.dedupIncrement(batch, index, "doc_id", "text",
      bands = 8, threshold = 0.4).select("doc_id").as[Long].collect().sorted.toSeq
    val withSidecars = Dedup.dedupIncrement(batch, index, "doc_id", "text",
        bands = 8, threshold = 0.4,
        indexBands = Some(stored),
        indexFps = Some(Dedup.fingerprintTable(index, "doc_id", "text")))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(withSidecars == plain)
    assert(spark.sharedState.cacheManager.isEmpty,
      "the sidecar path releases every internal cache too")
    // a parameter mismatch against the stored table fails FAST — silent
    // near-zero candidate counts would let near-dups into the corpus
    val err = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDups(batch, index, "doc_id",
        "text", bands = 4, threshold = 0.4, indexBands = Some(stored))
    }
    assert(err.getMessage.contains("index band table holds params"))
    // a MIXED-parameter sidecar (accumulated across restarts with
    // changed settings) also fails fast, even when ONE partition's
    // params happen to match the call — the one-row probe this replaced
    // would have silently found zero candidates for the other partitions
    val mixed = stored.unionByName(
      Dedup.bandSignatures(index, "doc_id", "text", numHashes = 8, bands = 8)
        .limit(1))
    val errMixed = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDups(batch, index, "doc_id",
        "text", bands = 8, threshold = 0.4, indexBands = Some(mixed))
    }
    assert(errMixed.getMessage.contains("mixed-parameter sidecar"))
    Dedup.releaseShingleCaches()
  }

  test("dedupIncrement: NULL-text docs follow the null-safe exact rule (replay-idempotent)") {
    spark.sqlContext.clearCache()
    val index = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, null: String)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, null: String), // exact dup of indexed NULL-text doc 2
      (11L, "fresh unique content entirely new here")).toDF("doc_id", "text")
    val kept = Dedup.dedupIncrement(batch, index, "doc_id", "text",
        bands = 8, threshold = 0.4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(11L),
      "a NULL-text batch doc matches the indexed NULL-text doc via the " +
        "null-safe fingerprint rule — redelivery can never re-append it")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("dedupIncrement keeps only append-safe batch rows and releases caches") {
    spark.sqlContext.clearCache()
    val index = docs(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "standing corpus text with no relation to anything above",
      3L -> "tiny doc")
    val batch = docs(
      10L -> "the quick brown fox jumps over the lazy dog at dawn today", // near-dups index 1
      11L -> "a brand new batch document with entirely fresh content",
      12L -> "a brand new batch document with entirely fresh content today yes", // near-dups 11
      13L -> "tiny  DOC", // sub-k exact fingerprint dup of index 3
      14L -> "wholly unrelated singleton appended to the corpus now")
    val kept = Dedup.dedupIncrement(batch, index, "doc_id", "text",
        bands = 8, threshold = 0.4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(11L, 14L),
      "10 drops against the index, {11,12} collapses within-batch to 11, " +
        "13 drops via the cross fingerprint rule, 14 survives")
    assert(spark.sharedState.cacheManager.isEmpty,
      "dedupIncrement is eager and must release every internal cache")
  }

  // ---- similarity search ----

  test("bruteForceTopK: self excluded, duplicate vector ranks first with cosine 1") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.7f, 0.7f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 1), k = 2)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect()
    assert(top.length == 2)
    assert(top(0)._3 == 2L && math.abs(top(0)._4 - 1.0) < 1e-12)
    assert(top(1)._3 == 4L)
    assert(!top.exists(_._3 == 1L))
  }

  test("native BandSignatures == the literal per-plane dot composition") {
    // the composition BandSignatures replaced (concat_ws of sign bits of
    // graft_dot against each literal plane) — must stay bit-identical
    val planes: Seq[Seq[Seq[Double]]] = (0 until 3).map { t =>
      Dedup.planeSignsSeeded(t, 4, 5).map(_.toSeq).toSeq
    }
    val vecs = Seq(
      (1L, Array(0.3, -1.2, 4.0, 0.0, -0.7)),
      (2L, Array(-2.0, 2.0, -2.0, 2.0, -2.0)),
      (3L, Array(0.0, 0.0, 0.0, 0.0, 0.0)),   // all-zero: dot 0 -> '1'
      (4L, Array(1.5, 0.5)))                   // short vec: min(len) rule
      .toDF("id", "vec")
    val composed = planes.map { tp =>
      concat_ws("", tp.map(p =>
        when(graft.functions.DotProduct.dotp($"vec", lit(p.toArray)) >= 0,
          "1").otherwise("0")): _*)
    }
    val rows = vecs.select(
        graft.functions.BandSignatures.sigs($"vec", planes).as("native"),
        array(composed: _*).as("composed"))
      .as[(Seq[String], Seq[String])].collect()
    rows.foreach { case (n, c) => assert(n == c) }
    // null vector -> null result (DotProduct convention)
    val nulls = Seq((1L, null: Array[Double])).toDF("id", "vec")
      .select(graft.functions.BandSignatures.sigs($"vec", planes).as("s"))
      .collect()
    assert(nulls.head.isNullAt(0))
  }

  test("BandSignatures: interpreted eval == codegen path == Scala reference on random vectors") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val planes: Seq[Seq[Seq[Double]]] = (0 until 5).map { t =>
      Dedup.planeSignsSeeded(t, 3, 8).map(_.toSeq).toSeq
    }
    // same accumulation order as the expression: ascending index,
    // min(len) elements, 0.0 seed -> bit-identical doubles
    def ref(v: Array[Double]): Seq[String] = planes.map { tp =>
      tp.map { p =>
        var acc = 0.0
        var i = 0
        val n = math.min(p.length, v.length)
        while (i < n) { acc += v(i) * p(i); i += 1 }
        if (acc >= 0.0) "1" else "0"
      }.mkString
    }
    val rnd = new scala.util.Random(42)
    val vecs = (0 until 64).map(_ => Array.fill(8)(rnd.nextGaussian() * 3))
    // interpreted path: direct eval on a literal child
    vecs.foreach { v =>
      val out = graft.functions.BandSignatures(
          Literal.create(v, ArrayType(DoubleType)), planes)
        .eval(null).asInstanceOf[ArrayData]
      val got = (0 until out.numElements()).map(out.getUTF8String(_).toString)
      assert(got == ref(v))
    }
    // codegen path: through a projection on a real DataFrame
    val viaDf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "vec")
      .select($"id", graft.functions.BandSignatures.sigs($"vec", planes).as("s"))
      .as[(Long, Seq[String])].collect().sortBy(_._1)
    viaDf.foreach { case (i, got) => assert(got == ref(vecs(i.toInt))) }
  }

  test("native DotProduct == HOF fold, and registers as SQL graft_dot") {
    val vecs = Seq(
      (1L, Array(1.5, -2.0, 3.25), Array(0.5, 4.0, -1.25)),
      (2L, Array(0.1, 0.2, 0.3), Array(0.0, 0.0, 0.0)))
      .toDF("id", "a", "b")
    val both = vecs.select(
      graft.functions.DotProduct.dotp($"a", $"b").as("native"),
      datax.Similarity.dotFold($"a", $"b").as("fold"))
      .as[(Double, Double)].collect()
    both.foreach { case (n, f) => assert(n == f) } // bit-identical
    // SQL registration via SparkSessionExtensions
    val viaSql = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").head().getDouble(0)
    assert(viaSql == 11.0)
  }

  test("ivfTopK recall vs brute force >= 0.6 on real embeddings") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter($"vec_id" < 8)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val (c, a) = Similarity.ivfIndex(emb, nCentroids = 16)
    val approx = Similarity.ivfTopK(c, a, queries, k = 5, nProbe = 4)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("persisted IVF index: partition-pruned probe == in-memory ivfTopK exactly") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
    try {
      Similarity.ivfIndexWrite(emb, dir, nCentroids = 16)
      val queries = emb.filter($"vec_id" < 16)
      val indexed = Similarity.ivfTopKIndexed(spark, dir, queries,
        k = 5, nProbe = 4)
      val (c, a) = Similarity.ivfIndex(emb, nCentroids = 16)
      val direct = Similarity.ivfTopK(c, a, queries, k = 5, nProbe = 4)
      // exact row equality: the parquet double round-trip is lossless
      // and the stride centroids are deterministic, so the persisted
      // path must not move a single cosine bit
      assert(indexed.orderBy("query_id", "rank").collect().toSeq
        == direct.orderBy("query_id", "rank").collect().toSeq)
      // the scale property the layout exists for: the assigned scan is
      // partition-PRUNED (directory-level, probed buckets only), not a
      // per-row data filter over the full index
      val plan = indexed.queryExecution.executedPlan.toString
      val scanLine = plan.linesIterator
        .find(l => l.contains("assigned.parquet") && l.contains("PartitionFilters"))
        .getOrElse(fail(s"no assigned.parquet scan with PartitionFilters:\n$plan"))
      assert(!scanLine.contains("PartitionFilters: []")
          && scanLine.contains("centroid_id"),
        s"probe must prune on centroid_id partitions:\n$scanLine")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("AdcLookup native expression == the HOF lookup fold, bit-identical") {
    // the DotProduct contract applied to the PQ hot path: same
    // ascending-subspace left fold, zero boxing
    val rows = (0 until 50).map { i =>
      val codes = Array.tabulate(8)(s => (i * 7 + s * 3) % 16)
      val lut = Array.tabulate(8, 16)((s, c) => (i + s * 17 + c) * 0.013)
      (i.toLong, codes, lut.map(_.toSeq).toSeq)
    }
    val df = rows.toDF("id", "codes", "lut")
    val both = df.select(
      graft.functions.AdcLookup.adc($"codes", $"lut").as("native"),
      aggregate(zip_with($"codes", $"lut",
          (code, t) => element_at(t, code + 1)),
        lit(0.0), (acc, x) => acc + x).as("fold"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, f) => assert(n == f) } // bit-identical
  }

  test("AdcLookup bounds-checks codes in BOTH eval paths: out-of-range raises named error, never garbage") {
    // review finding (round 15): on UnsafeArrayData — the codegen hot
    // path — an out-of-range getDouble reads arbitrary buffer memory
    // and returns garbage distances, so codes encoded against a
    // larger-ksub codebook would silently yield wrong top-k. Both
    // paths must raise the named drift error instead.
    val lut = Seq(Seq(Seq(0.0, 1.0), Seq(2.0, 3.0))) // 2 subspaces x ksub=2
    // codegen path: code 5 out of range [0, 2)
    val bad = Seq((Array(0, 5), lut.head)).toDF("codes", "lut")
    val ex = intercept[Exception] {
      bad.select(graft.functions.AdcLookup.adc($"codes", $"lut")).collect()
    }
    val chain = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(chain.contains("[graft-adc] code 5 out of range [0, 2) in subspace 1"),
      s"expected the named bounds raise, got:\n$chain")
    // negative codes too
    val neg = Seq((Array(-1, 0), lut.head)).toDF("codes", "lut")
    val exNeg = intercept[Exception] {
      neg.select(graft.functions.AdcLookup.adc($"codes", $"lut")).collect()
    }
    val chainNeg = Iterator.iterate(exNeg: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(chainNeg.contains("[graft-adc] code -1 out of range"))
    // interpreted path (nullSafeEval) — the same check, directly
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val expr = graft.functions.AdcLookup(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0, 5), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        lut.head.map(_.toArray).toArray, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))))
    val exInt = intercept[IllegalArgumentException] {
      expr.nullSafeEval(
        new GenericArrayData(Array(0, 5)),
        new GenericArrayData(lut.head.map(r =>
          new GenericArrayData(r.toArray)).toArray))
    }
    assert(exInt.getMessage.contains("[graft-adc] code 5 out of range"))
    // m-drift raises too (round-16 review finding): a min-of-the-two
    // fold would silently TRUNCATE a subspace-count mismatch — every
    // per-code index in range, wrong distances, no error
    val mdrift = Seq((Array(0, 1, 0), lut.head)).toDF("codes", "lut")
    val exM = intercept[Exception] {
      mdrift.select(graft.functions.AdcLookup.adc($"codes", $"lut")).collect()
    }
    val chainM = Iterator.iterate(exM: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(chainM.contains("[graft-adc] 3 code subspaces vs 2 lookup-table subspaces"),
      s"expected the subspace-mismatch raise, got:\n$chainM")
    // in-range values still bit-identical to the fold (regression guard)
    val ok = Seq((Array(1, 0), lut.head)).toDF("codes", "lut")
      .select(graft.functions.AdcLookup.adc($"codes", $"lut"))
      .as[Double].head()
    assert(ok == 1.0 + 2.0)
  }

  test("metricSuffix: two opted-out calls to the SAME entrypoint compose in one action") {
    // review finding (round 15): the deterministic per-entrypoint
    // metric names made the union-of-two-LSH-passes composition an
    // analysis-time duplicate-observed-metrics error — the suffix is
    // the caller-supplied disambiguator, while the default keeps the
    // stable name a metrics pipeline keys on.
    val dim = 8
    def group(base: Long, v: Float) =
      (0 until 10).map(i => (base + i,
        Array.tabulate(dim)(j => v * (j + 1)))).toDF("vec_id", "embedding")
    val g1 = group(0L, 0.1f)
    val g2 = group(100L, -0.2f) // different direction: no cross-group pairs
    def pass(df: org.apache.spark.sql.DataFrame, suffix: String) =
      Dedup.embeddingNearDupsBanded(df, "vec_id", "embedding",
        tables = 2, planesPerTable = 2, threshold = 0.9,
        maxOccupancy = None, metricSuffix = suffix)
    // same default name in one action: the documented fail-fast
    val ex = intercept[Exception] {
      pass(g1, "").union(pass(g2, "")).count()
    }
    assert(Option(ex.getMessage).exists(_.toLowerCase.contains("metric")),
      s"expected the duplicate-observed-metrics analysis error, got: $ex")
    // distinct suffixes: composes, both groups' pairs intact
    val metrics = scala.collection.concurrent.TrieMap[String, Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (k, row) => metrics.put(k, row) }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val n = pass(g1, "pass1").union(pass(g2, "pass2")).count()
      assert(n == 2L * (10 * 9 / 2), s"both passes' pairs must survive, got $n")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!(metrics.contains("graft.lsh.occupancy.embedding_banded.pass1")
          && metrics.contains("graft.lsh.occupancy.embedding_banded.pass2"))
          && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(metrics.contains("graft.lsh.occupancy.embedding_banded.pass1")
          && metrics.contains("graft.lsh.occupancy.embedding_banded.pass2"),
        s"both suffixed metrics must land; saw: ${metrics.keys}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("PQ: self-coding codebook, codes in range, exact duplicates retrieved at rank 1 with adc 0") {
    // 16 strictly-increasing vectors, n = 16 -> stride 1: EVERY vector
    // is sampled, so the codebook is the vectors themselves and each
    // must encode to its own cid in all 8 subspaces (own distance 0,
    // all slices distinct)
    val base = (0 until 16).map(i =>
      (i.toLong, Array.tabulate(64)(j => (i * 64 + j).toFloat / 100f)))
    val df16 = base.toDF("vec_id", "embedding")
    val cent = Similarity.pqCentroids(df16)
    assert(cent.count() == 8L * 16)
    val selfCodes = Similarity.pqEncode(df16, cent)
      .as[(Long, Int, Int)].collect()
    assert(selfCodes.length == 16 * 8)
    assert(selfCodes.forall { case (id, _, code) => code == id.toInt },
      "a sampled vector must code to its own ordinal in every subspace")
    // plant exact copies (ids 100+i of vector i), encode the union
    // against the SAME codebook: a copy shares all 8 codes with its
    // twin, so its ADC distance to it is exactly 0.0 and every other
    // candidate differs in at least one code -> the twin is rank 1
    val union = (base ++ base.map { case (i, v) => (100L + i, v) })
      .toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(union, cent)
    assert(codes.filter($"code" < 0 || $"code" >= 16).count() == 0)
    val top1 = Similarity.pqTopK(cent, codes,
        union.filter($"vec_id" >= 100), k = 1)
      .select("query_id", "id", "adc_dist")
      .as[(Long, Long, Double)].collect()
    assert(top1.length == 16)
    top1.foreach { case (q, id, adc) =>
      assert(id == q - 100 && adc == 0.0,
        s"copy $q must retrieve its twin at adc 0, got ($id, $adc)")
    }
  }

  test("ivfPqTopK: nProbe = all buckets == plain pqTopK; partial probe prunes code partitions") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    try {
      Similarity.pqIndexWrite(emb, dir, nCentroids = 16)
      val queries = emb.filter($"vec_id" < 8)
      // probing EVERY bucket must reproduce the un-pruned ADC scan
      // exactly: pruning drops buckets, never changes in-bucket scores
      val all = Similarity.ivfPqTopK(spark, dir, queries, k = 5,
          nProbe = 16)
        .orderBy("query_id", "rank").collect().toSeq
      val book = Similarity.pqCentroids(emb)
      val flat = Similarity.pqTopK(book, Similarity.pqEncode(emb, book),
          queries, k = 5)
        .orderBy("query_id", "rank").collect().toSeq
      assert(all.nonEmpty && all == flat)
      // the same rows as a local query frame: probes built on the driver
      val localQueries = spark.createDataFrame(
        java.util.Arrays.asList(queries.collect(): _*), queries.schema)
      assert(Similarity.ivfPqTopK(spark, dir, localQueries, k = 5, nProbe = 16)
        .orderBy("query_id", "rank").collect().toSeq == flat)
      // the scale property: a partial probe reads only its buckets
      Seq(queries, localQueries).foreach { q =>
        val pruned = Similarity.ivfPqTopK(spark, dir, q, k = 5,
          nProbe = 4)
        val plan = pruned.queryExecution.executedPlan.toString
        val scanLine = plan.linesIterator
          .find(l => l.contains("codes.parquet") && l.contains("PartitionFilters"))
          .getOrElse(fail(s"no codes.parquet scan with PartitionFilters:\n$plan"))
        assert(!scanLine.contains("PartitionFilters: []")
            && scanLine.contains("centroid_id"),
          s"probe must prune code partitions:\n$scanLine")
      }
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("ivfIndexAppend: probe == same-quantizer rebuild over the union; pruning intact; staleness tracked") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    // split on residue 3, NOT 0: the stride quantizer picks ids
    // divisible by stride (a multiple of 5 here), so excluding %5==0
    // from the base would leave it zero centroids
    val base = emb.filter($"vec_id" % 5 =!= 3) // index built on 80%
    val shard = emb.filter($"vec_id" % 5 === 3) // appended later
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfapp").toString
    try {
      Similarity.ivfIndexWrite(base, dir, nCentroids = 16)
      Similarity.ivfIndexAppend(spark, dir, shard)
      val queries = emb.filter($"vec_id" < 16)
      val appended = Similarity.ivfTopKIndexed(spark, dir, queries,
        k = 5, nProbe = 4)
      // the pin: append changes bucket CONTENTS, never GEOMETRY — the
      // appended index probes exactly like a rebuild of the union UNDER
      // THE SAME QUANTIZER (base's centroids, every vector re-assigned)
      val centroids = Similarity.ivfIndex(base, nCentroids = 16)._1
      val rebuilt = Similarity.ivfTopK(centroids,
        Similarity.ivfAssign(emb, centroids), queries, k = 5, nProbe = 4)
      assert(appended.orderBy("query_id", "rank").collect().toSeq
        == rebuilt.orderBy("query_id", "rank").collect().toSeq)
      // appended rows landed inside the pruned layout, not beside it
      val plan = appended.queryExecution.executedPlan.toString
      val scanLine = plan.linesIterator
        .find(l => l.contains("assigned.parquet") && l.contains("PartitionFilters"))
        .getOrElse(fail(s"no assigned.parquet scan with PartitionFilters:\n$plan"))
      assert(!scanLine.contains("PartitionFilters: []"),
        s"append must preserve partition pruning:\n$scanLine")
      // staleness = appended/built — the re-quantize signal
      val (nBase, nShard) = (base.count(), shard.count())
      val staleness = Similarity.ivfIndexStaleness(spark, dir)
      assert(staleness.exists(s => math.abs(s - nShard.toDouble / nBase) < 1e-12),
        s"expected ${nShard.toDouble / nBase}, got $staleness")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("pqIndexAppend: probe == frozen-geometry rebuild over the union; staleness/skew/compact work on the PQ layout") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    // residue 3, not 0: the stride quantizer picks ids divisible by
    // stride (see the ivfIndexAppend spec)
    val base = emb.filter($"vec_id" % 5 =!= 3)
    val shard = emb.filter($"vec_id" % 5 === 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-pqapp").toString
    val dir2 = java.nio.file.Files.createTempDirectory("graft-pqreb").toString
    try {
      Similarity.pqIndexWrite(base, dir, nCentroids = 16)
      Similarity.ivfIndexAppend(spark, dir, shard)
      val queries = emb.filter($"vec_id" < 16)
      val appended = Similarity.ivfPqTopK(spark, dir, queries, k = 5, nProbe = 4)
      // the pin: append changes bucket contents and code rows, never
      // geometry — probing the appended index ≡ probing a
      // pqIndexWriteWith rebuild of the union under the SAME stored
      // (centroids, codebook)
      val centroids = Similarity.ivfIndex(base, nCentroids = 16)._1
      val book = Similarity.pqCentroids(base)
      Similarity.pqIndexWriteWith(emb, dir2, centroids, book)
      val rebuilt = Similarity.ivfPqTopK(spark, dir2, queries, k = 5, nProbe = 4)
      assert(appended.orderBy("query_id", "rank").collect().toSeq
        == rebuilt.orderBy("query_id", "rank").collect().toSeq)
      // appended code rows landed inside the pruned layout
      val plan = appended.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
          l.contains("codes.parquet") && l.contains("PartitionFilters")
            && !l.contains("PartitionFilters: []")),
        s"append must preserve code-partition pruning:\n$plan")
      // the maintenance family reads the PQ layout too
      val (nBase, nShard) = (base.count(), shard.count())
      val staleness = Similarity.ivfIndexStaleness(spark, dir)
      assert(staleness.exists(s => math.abs(s - nShard.toDouble / nBase) < 1e-12),
        s"expected ${nShard.toDouble / nBase}, got $staleness")
      // skew: max/median of the per-bucket rows, checked against an
      // independent computation off the same table
      val counts = spark.read.parquet(s"$dir/codes.parquet")
        .groupBy("centroid_id").count()
        .as[(Long, Long)].collect().map(_._2).sorted
      val median =
        if (counts.length % 2 == 1) counts(counts.length / 2).toDouble
        else (counts(counts.length / 2 - 1) + counts(counts.length / 2)) / 2.0
      val skew = Similarity.ivfIndexSkew(spark, dir)
      assert(skew.exists(s => math.abs(s - counts.last / median) < 1e-12),
        s"expected ${counts.last / median}, got $skew")
    } finally Seq(dir, dir2).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("ivfIndexAppendBatch: replay overwrites its own batch partition; probe == frozen-geometry rebuild; maintenance reads the union; rebuild clears the increment") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 5 =!= 3 && $"vec_id" % 5 =!= 4)
    val shard1 = emb.filter($"vec_id" % 5 === 3)
    val shard2 = emb.filter($"vec_id" % 5 === 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-incapp").toString
    val dir2 = java.nio.file.Files.createTempDirectory("graft-increb").toString
    try {
      Similarity.pqIndexWrite(base, dir, nCentroids = 16)
      Similarity.ivfIndexAppendBatch(spark, dir, shard1, 0L)
      // REPLAY of batch 0 (the at-least-once crash-recovery case): the
      // overwrite rewrites its own batch partition — never doubles
      Similarity.ivfIndexAppendBatch(spark, dir, shard1, 0L)
      Similarity.ivfIndexAppendBatch(spark, dir, shard2, 1L)
      val incRows = spark.read.parquet(s"$dir/codes_inc.parquet")
      assert(incRows.count() == shard1.count() + shard2.count(),
        "a replayed batch must not double its rows")
      // probe == the d09f frozen-geometry rebuild contract, through the
      // base ∪ increment read face
      val queries = emb.filter($"vec_id" < 16)
      val appended = Similarity.ivfPqTopK(spark, dir, queries, k = 5, nProbe = 4)
      val centroids = Similarity.ivfIndex(base, nCentroids = 16)._1
      val book = Similarity.pqCentroids(base)
      Similarity.pqIndexWriteWith(emb, dir2, centroids, book)
      val rebuilt = Similarity.ivfPqTopK(spark, dir2, queries, k = 5, nProbe = 4)
      assert(appended.orderBy("query_id", "rank").collect().toSeq
        == rebuilt.orderBy("query_id", "rank").collect().toSeq)
      // pruning reaches BOTH sides of the union
      val plan = appended.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
          l.contains("codes.parquet") && !l.contains("codes_inc")
            && l.contains("PartitionFilters") && !l.contains("PartitionFilters: []")),
        s"base scan must stay partition-pruned:\n$plan")
      assert(plan.linesIterator.exists(l =>
          l.contains("codes_inc.parquet") && l.contains("PartitionFilters")
            && !l.contains("PartitionFilters: []")),
        s"increment scan must be partition-pruned too:\n$plan")
      // staleness counts the union; skew merges per-bucket counts
      val (nBase, nInc) = (base.count(), shard1.count() + shard2.count())
      val staleness = Similarity.ivfIndexStaleness(spark, dir)
      assert(staleness.exists(s => math.abs(s - nInc.toDouble / nBase) < 1e-12),
        s"expected ${nInc.toDouble / nBase}, got $staleness")
      val counts = spark.read.parquet(s"$dir/codes.parquet")
        .select("id", "centroid_id")
        .unionByName(spark.read.parquet(s"$dir/codes_inc.parquet")
          .select("id", "centroid_id"))
        .groupBy("centroid_id").count()
        .as[(Long, Long)].collect().map(_._2).sorted
      val median =
        if (counts.length % 2 == 1) counts(counts.length / 2).toDouble
        else (counts(counts.length / 2 - 1) + counts(counts.length / 2)) / 2.0
      val skew = Similarity.ivfIndexSkew(spark, dir)
      assert(skew.exists(s => math.abs(s - counts.last / median) < 1e-12),
        s"expected ${counts.last / median}, got $skew")
      // a REBUILD folds the increment into the new base and clears it
      Similarity.pqIndexWriteWith(emb, dir, centroids, book)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/codes_inc.parquet")),
        "rebuild must clear the increment sibling")
      assert(Similarity.ivfIndexStaleness(spark, dir) == Some(0.0))
      // the PLAIN layout takes batch appends through the same face
      val dirP = java.nio.file.Files.createTempDirectory("graft-incivf").toString
      try {
        Similarity.ivfIndexWrite(base, dirP, nCentroids = 16)
        Similarity.ivfIndexAppendBatch(spark, dirP, shard1, 0L)
        Similarity.ivfIndexAppendBatch(spark, dirP, shard1, 0L) // replay
        val probed = Similarity.ivfTopKIndexed(spark, dirP, queries,
          k = 5, nProbe = 4)
        val reference = Similarity.ivfTopK(centroids,
          Similarity.ivfAssign(base.unionByName(shard1), centroids),
          queries, k = 5, nProbe = 4)
        assert(probed.orderBy("query_id", "rank").collect().toSeq
          == reference.orderBy("query_id", "rank").collect().toSeq)
      } finally {
        val p = new org.apache.hadoop.fs.Path(dirP)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      }
    } finally Seq(dir, dir2).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("ivfIndexConsolidate: folds increment batches into one pruned epoch partition; probe/staleness/skew identical; replayable batch untouched") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 5 =!= 3 && $"vec_id" % 5 =!= 4)
    // three appended batches so consolidation folds TWO (the file-count
    // win is per folded batch — one file per bucket replaces one per
    // (batch, bucket))
    val shard1a = emb.filter($"vec_id" % 10 === 3)
    val shard1b = emb.filter($"vec_id" % 10 === 8)
    val shard2 = emb.filter($"vec_id" % 5 === 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-inccons").toString
    try {
      Similarity.pqIndexWrite(base, dir, nCentroids = 16)
      Similarity.ivfIndexAppendBatch(spark, dir, shard1a, 0L)
      Similarity.ivfIndexAppendBatch(spark, dir, shard1b, 1L)
      Similarity.ivfIndexAppendBatch(spark, dir, shard2, 2L)
      val queries = emb.filter($"vec_id" < 16)
      def probe() = Similarity.ivfPqTopK(spark, dir, queries, k = 5, nProbe = 4)
      val before = probe().orderBy("query_id", "rank").collect().toSeq
      val stBefore = Similarity.ivfIndexStaleness(spark, dir)
      val skBefore = Similarity.ivfIndexSkew(spark, dir)
      // the two listing strategies (round 18: parallel per-dir walk on
      // file:, bulk recursive listFiles on remote stores) must agree on
      // the batched-increment layout...
      assert(Similarity.ivfIndexSkewListing(spark, dir, bulkListing = true)
        == skBefore, "bulk listing must match the walk on batch layouts")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def incFiles() = fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$dir/codes_inc.parquet", "batch=*/centroid_id=*/*.parquet")).length
      val filesBefore = incFiles()
      // batches {0, 1, 2}, keepLastBatches = 1 -> cutoff 1: 0 and 1 fold
      assert(Similarity.ivfIndexConsolidate(spark, dir) == Some(1L))
      assert(probe().orderBy("query_id", "rank").collect().toSeq == before,
        "consolidation is layout-only: not a single probe row moves")
      assert(Similarity.ivfIndexStaleness(spark, dir) == stBefore)
      assert(Similarity.ivfIndexSkew(spark, dir) == skBefore)
      // ...and on the consolidated-epoch layout (epoch dir + kept batch
      // under the marker's visibility rule)
      assert(Similarity.ivfIndexSkewListing(spark, dir, bulkListing = true)
        == skBefore, "bulk listing must match the walk on epoch layouts")
      // round 19: the row-count cache has absorbed the epoch files by
      // now — the next poll on this layout is a pure listing
      assert(Similarity.ivfIndexSkewCounted(spark, dir, bulkListing = false)
        ._2 == 0, "warm poll on the epoch layout opens zero footers")
      // folded batch dirs are gone; the epoch (batch=-3) holds ONE file
      // per touched bucket; batch 2 (replayable) keeps its own dir
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/codes_inc.parquet/batch=0")), "folded batch dir must be gc'd")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/codes_inc.parquet/batch=1")), "folded batch dir must be gc'd")
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/codes_inc.parquet/batch=-3")), "committed epoch dir")
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/codes_inc.parquet/batch=2")), "replayable batch stays")
      assert(incFiles() < filesBefore,
        s"consolidation must shrink the file count, $filesBefore -> ${incFiles()}")
      // pruning survives the epoch layout
      val plan = probe().queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
          l.contains("codes_inc.parquet") && l.contains("PartitionFilters")
            && !l.contains("PartitionFilters: []")),
        s"epoch scan must stay partition-pruned:\n$plan")
      // the kept batch is still replay-idempotent after consolidation
      Similarity.ivfIndexAppendBatch(spark, dir, shard2, 2L)
      assert(probe().orderBy("query_id", "rank").collect().toSeq == before,
        "replaying the kept batch leaves the index identical")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("skew listing strategies agree on trees holding hidden FILE names " +
       "(round-19 ADVICE: bulk drops dot-/underscore-prefixed *.parquet " +
       "like the walk — a tool-copied artifact must not count)") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-hidden").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    try {
      Similarity.ivfIndexWrite(emb, dir, nCentroids = 8)
      val clean = Similarity.ivfIndexSkewListing(spark, dir, bulkListing = false)
      assert(clean.nonEmpty)
      // drop a copied data file under hidden names INSIDE a bucket dir
      // (the object-store shape: only the bulk path runs there)
      val bucketDir = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$dir/assigned.parquet"))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid_id="))
        .head.getPath
      val dataFile = fs.listStatus(bucketDir)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .head.getPath
      Seq("_toolcopy.parquet", ".toolcopy.parquet").foreach { n =>
        org.apache.hadoop.fs.FileUtil.copy(fs, dataFile, fs,
          new org.apache.hadoop.fs.Path(bucketDir, n), false,
          spark.sessionState.newHadoopConf())
      }
      val walk = Similarity.ivfIndexSkewListing(spark, dir, bulkListing = false)
      val bulk = Similarity.ivfIndexSkewListing(spark, dir, bulkListing = true)
      assert(walk == clean, "the walk must ignore hidden file names")
      assert(bulk == clean, "the bulk listing must ignore hidden file names")
    } finally fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("skew poll row-count cache (round 19): warm polls open zero footers, " +
       "an append opens only its own files, and the cache is ADVISORY — " +
       "deleted or corrupt degrades to footer reads, never a wrong count") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 5 =!= 3)
    val shard = emb.filter($"vec_id" % 5 === 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-skewcache").toString
    val dirP = java.nio.file.Files.createTempDirectory("graft-skewcacheP").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val cachePath = new org.apache.hadoop.fs.Path(s"$dir/_bucket_rows_cache")
    try {
      Similarity.pqIndexWrite(base, dir, nCentroids = 16)
      val (cold, coldOpens) =
        Similarity.ivfIndexSkewCounted(spark, dir, bulkListing = false)
      assert(cold.nonEmpty && coldOpens > 0, "a cold poll reads footers")
      assert(fs.exists(cachePath), "the first poll persists the cache")
      val (warm, warmOpens) =
        Similarity.ivfIndexSkewCounted(spark, dir, bulkListing = false)
      assert(warm == cold && warmOpens == 0,
        "a warm poll is a pure listing: zero footer opens")
      val (warmBulk, bulkOpens) =
        Similarity.ivfIndexSkewCounted(spark, dir, bulkListing = true)
      assert(warmBulk == cold && bulkOpens == 0,
        "both listing strategies share the cache")
      // an append's poll opens exactly the appended files, nothing else
      Similarity.ivfIndexAppendBatch(spark, dir, shard, 0L)
      val incFiles = fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$dir/codes_inc.parquet", "batch=*/centroid_id=*/*.parquet")).length
      assert(incFiles > 0)
      val (afterApp, appOpens) =
        Similarity.ivfIndexSkewCounted(spark, dir, bulkListing = false)
      assert(appOpens == incFiles,
        s"an append poll opens only the shard's files: $appOpens vs $incFiles")
      // deleting the cache re-reads everything — and agrees
      fs.delete(cachePath, false)
      val (cold2, cold2Opens) =
        Similarity.ivfIndexSkewCounted(spark, dir, bulkListing = false)
      assert(cold2 == afterApp && cold2Opens > appOpens,
        "a cache-free poll re-derives the identical reading from footers")
      // a CORRUPT cache degrades to footer reads, never to a wrong count
      val out = fs.create(cachePath, true)
      out.write("not\ta\tvalid\nrow cache at all\n".getBytes("UTF-8"))
      out.close()
      // a crash-orphaned writer tmp (pre-start mtime) is swept by the
      // next refresh; a CONCURRENT poller's in-flight tmp is NOT
      // (round 20: the sweep is age-gated — the round-19 unconditional
      // sweep ate a live writer's tmp and could leave NO cache at all;
      // the future mtime makes "in-flight at sweep time" deterministic)
      val orphan = new org.apache.hadoop.fs.Path(
        s"$dir/_bucket_rows_cache.tmp-orphan")
      fs.create(orphan, true).close()
      fs.setTimes(orphan, System.currentTimeMillis() - 3600L * 1000, -1)
      val inflight = new org.apache.hadoop.fs.Path(
        s"$dir/_bucket_rows_cache.tmp-inflight")
      fs.create(inflight, true).close()
      fs.setTimes(inflight, System.currentTimeMillis() + 3600L * 1000, -1)
      val (corrupt, corruptOpens) =
        Similarity.ivfIndexSkewCounted(spark, dir, bulkListing = false)
      assert(corrupt == afterApp && corruptOpens == cold2Opens,
        "a torn cache is ignored, not trusted")
      assert(!fs.exists(orphan), "the refresh sweeps stale orphaned tmps")
      assert(fs.exists(inflight),
        "a concurrent writer's in-flight tmp must survive the sweep")
      fs.delete(inflight, false)
      // the plain (assigned) layout carries the same contract
      Similarity.ivfIndexWrite(emb, dirP, nCentroids = 16)
      val (pCold, pColdOpens) =
        Similarity.ivfIndexSkewCounted(spark, dirP, bulkListing = false)
      val (pWarm, pWarmOpens) =
        Similarity.ivfIndexSkewCounted(spark, dirP, bulkListing = false)
      assert(pCold == pWarm && pColdOpens > 0 && pWarmOpens == 0)
    } finally Seq(dir, dirP).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("row-cache commits are OVERWRITE-renames (round 20): concurrent " +
       "writers are last-writer-wins with the committed cache present and " +
       "parseable after every commit, and a poisoned survivor degrades " +
       "to footer reads — never a wrong count, never a missing cache") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-cacherace").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val cachePath = new org.apache.hadoop.fs.Path(s"$dir/_bucket_rows_cache")
    def fakeStatus(path: String, len: Long, mtime: Long) =
      new org.apache.hadoop.fs.FileStatus(len, false, 1, 1024L, mtime,
        new org.apache.hadoop.fs.Path(path))
    try {
      Similarity.ivfIndexWrite(emb, dir, nCentroids = 16)
      val (cold, coldOpens) =
        Similarity.ivfIndexSkewCounted(spark, dir, bulkListing = false)
      assert(cold.nonEmpty && coldOpens > 0 && fs.exists(cachePath))
      // two concurrent monitors refresh the cache back to back (the
      // round-19 review interleaving, minus the now-impossible
      // delete-then-rename hole): after EACH commit the cache file
      // exists and parses — last writer wins, no window with p absent
      val a = Seq((fakeStatus("/fake/a.parquet", 10L, 1000L), 111L))
      val b = Seq((fakeStatus("/fake/b.parquet", 20L, 2000L), 222L))
      Similarity.writeRowCache(fs, cachePath, a)
      assert(fs.exists(cachePath), "commit A leaves the cache present")
      assert(Similarity.readRowCache(fs, cachePath)
        == Map("/fake/a.parquet" -> ((10L, 1000L, 111L))))
      Similarity.writeRowCache(fs, cachePath, b)
      assert(fs.exists(cachePath), "commit B leaves the cache present")
      assert(Similarity.readRowCache(fs, cachePath)
        == Map("/fake/b.parquet" -> ((20L, 2000L, 222L))),
        "last writer wins")
      // the surviving candidate keys no live file, so the next poll
      // footer-reads everything and lands on the same reading — the
      // advisory contract end to end
      val (after, afterOpens) =
        Similarity.ivfIndexSkewCounted(spark, dir, bulkListing = false)
      assert(after == cold && afterOpens == coldOpens,
        "a foreign-keyed cache degrades to the cold poll's exact reading")
      assert(Similarity.readRowCache(fs, cachePath)
        .keySet.forall(_.contains(dir)),
        "the poll recommitted a cache keyed on the real files")
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("ivfIndexWriteWith: given-quantizer face == ivfIndexWrite; kmeans|| and reservoir seeds serve end to end") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 8)
    val dirs = (1 to 4).map(_ =>
      java.nio.file.Files.createTempDirectory("graft-ivfwith").toString)
    try {
      Similarity.ivfIndexWrite(emb, dirs(0), nCentroids = 16)
      Similarity.ivfIndexWriteWith(emb, dirs(1),
        Similarity.ivfIndex(emb, nCentroids = 16)._1)
      def probe(d: String) = Similarity.ivfTopKIndexed(spark, d, queries,
          k = 5, nProbe = 4).orderBy("query_id", "rank").collect().toSeq
      assert(probe(dirs(0)).nonEmpty && probe(dirs(0)) == probe(dirs(1)),
        "the given-quantizer face must be exactly the composed build")
      // the full-scale seeding variants persist and serve
      Similarity.ivfIndexWriteWith(emb, dirs(2),
        Similarity.ivfIndexKMeansParallel(emb, nCentroids = 16)._1)
      assert(probe(dirs(2)).size == 8 * 5)
      Similarity.ivfIndexWriteWith(emb, dirs(3),
        Similarity.ivfSeedsReservoir(emb, nCentroids = 16))
      assert(probe(dirs(3)).size == 8 * 5)
    } finally dirs.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("ivfIndexMaintain: triggers read, rebuild fires in place with the index's own parameters, below-threshold polls are no-ops") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 5 =!= 3 && $"vec_id" % 5 =!= 4)
    val shard = emb.filter($"vec_id" % 5 === 3 || $"vec_id" % 5 === 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-maint").toString
    val dir2 = java.nio.file.Files.createTempDirectory("graft-maintref").toString
    try {
      Similarity.pqIndexWrite(base, dir, nCentroids = 16, m = 8, ksub = 16)
      Similarity.ivfIndexAppendBatch(spark, dir, shard, 0L)
      val queries = emb.filter($"vec_id" < 16)
      def probe(d: String) = Similarity.ivfPqTopK(spark, d, queries,
          k = 5, nProbe = 4).orderBy("query_id", "rank").collect().toSeq
      // staleness = 2/3 < 0.5 is false -> fires; first a BELOW-threshold
      // poll (maxStaleness just above the reading): pure no-op
      val reading = 2.0 * base.count() / 5 / (3.0 * base.count() / 5)
      val before = probe(dir)
      val idle = Similarity.ivfIndexMaintain(spark, dir, emb,
        maxStaleness = reading + 1, maxSkew = Double.MaxValue)
      assert(!idle.rebuilt && idle.staleness.isDefined && idle.skew.isDefined)
      assert(probe(dir) == before, "an idle poll must not touch the index")
      // now the staleness trigger fires: rebuild == a fresh default
      // build over the full corpus, increment cleared
      val fired = Similarity.ivfIndexMaintain(spark, dir, emb,
        maxStaleness = 0.5)
      assert(fired.rebuilt && fired.staleness.exists(_ >= 0.5))
      Similarity.pqIndexWrite(emb, dir2, nCentroids = 16, m = 8, ksub = 16)
      assert(probe(dir) == probe(dir2),
        "the fired rebuild must equal the explicit default build")
      assert(Similarity.ivfIndexStaleness(spark, dir) == Some(0.0))
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/codes_inc.parquet")))
      // the skew trigger reaches the same rebuild (forced via a tiny
      // bound); the RESIDUAL layout rebuilds through its own face —
      // build_meta keeps the flag. Batch id 1, not 0: the consumed
      // cutoff is MONOTONE per index dir across rebuilds (round 20 —
      // the maintain fire above stamped batch 0 consumed, and even an
      // explicit fresh build carries that forward, so a late replay of
      // an absorbed batch can never double-count); NEW data in an
      // existing dir takes fresh ids, as streaming epochs do
      Similarity.pqIndexWrite(base, dir, nCentroids = 16,
        spec = IndexSpec(encoding = "residual"))
      Similarity.ivfIndexAppendBatch(spark, dir, shard, 1L)
      val viaSkew = Similarity.ivfIndexMaintain(spark, dir, emb,
        maxStaleness = Double.MaxValue, maxSkew = 1.0)
      assert(viaSkew.rebuilt)
      assert(spark.read.parquet(
          Similarity.sidecarOf(spark, dir, "build_meta.parquet"))
        .select("residual").head().getBoolean(0),
        "a residual index must rebuild residual")
      // append-driven hysteresis: the rebuild zeroed staleness, so the
      // SAME thresholds do not re-fire on the rebuilt index even though
      // its intrinsic quantizer skew still reads >= the bound — no
      // rebuild loop (round-17 review finding)
      val after = Similarity.ivfIndexMaintain(spark, dir, emb,
        maxStaleness = Double.MaxValue, maxSkew = 1.0)
      assert(!after.rebuilt && after.staleness == Some(0.0),
        s"an un-appended index must never skew-fire, got $after")
    } finally Seq(dir, dir2).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("serving-index misuse fails loudly: probing an empty flag-era build_meta") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val dirR = java.nio.file.Files.createTempDirectory("graft-loudr").toString
    try {
      // a flag-era meta with NO row (crashed partial overwrite): the
      // codes' encoding is unknowable — named error, never a silent
      // raw probe of residual codes
      Similarity.pqIndexWrite(emb, dirR, nCentroids = 16,
        spec = IndexSpec(encoding = "residual"))
      Seq.empty[(Long, Int, Int, Boolean)]
        .toDF("built_n", "m", "ksub", "residual")
        .write.mode("overwrite").parquet(
          Similarity.sidecarOf(spark, dirR, "build_meta.parquet"))
      val ex2 = intercept[IllegalStateException] {
        Similarity.ivfPqTopK(spark, dirR, emb.filter($"vec_id" < 4),
          k = 2, nProbe = 2)
      }
      assert(ex2.getMessage.contains("no residual flag row"),
        s"got: ${ex2.getMessage}")
      // the maintenance family reads the same meta row through the same
      // check: the named error, not a bare NoSuchElementException
      Seq[(String, () => Any)](
        "ivfIndexStaleness" -> (() => Similarity.ivfIndexStaleness(spark, dirR)),
        "ivfIndexMaintain" -> (() => Similarity.ivfIndexMaintain(spark, dirR, emb))
      ).foreach { case (face, call) =>
        val ex = intercept[IllegalStateException](call())
        assert(ex.getMessage.contains("no residual flag row"),
          s"$face got: ${ex.getMessage}")
      }
    } finally Seq(dirR).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("pqIndexWriteAuto: build-time chooser follows the measured regime boundary and writes the explicit face's exact layout") {
    // the d09i clustered fixture: 64 tight clusters x 2 members — the
    // coarse quantizer absorbs every center, residual must win
    val clustered = (0 until 128).map { id =>
      val kk = id / 2
      (id.toLong, Array.tabulate(64) { j =>
        (((kk * 64 + j) * 2654435761L % 17).toFloat - 8f) +
          0.01f * (((id * 40503L + j) % 7).toFloat - 3f)
      })
    }.toDF("vec_id", "embedding")
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val dirC = java.nio.file.Files.createTempDirectory("graft-autoc").toString
    val dirC2 = java.nio.file.Files.createTempDirectory("graft-autoc2").toString
    val dirN = java.nio.file.Files.createTempDirectory("graft-auton").toString
    val dirN2 = java.nio.file.Files.createTempDirectory("graft-auton2").toString
    try {
      assert(Similarity.pqIndexWrite(clustered, dirC, nCentroids = 64,
        spec = IndexSpec(encoding = "auto")),
        "clustered corpus: auto must pick residual")
      assert(!Similarity.pqIndexWrite(emb, dirN, nCentroids = 16,
        spec = IndexSpec(encoding = "auto")),
        "near-orthogonal noise: auto must pick raw")
      // build_meta records the choice — the index stays self-describing
      assert(spark.read.parquet(
          Similarity.sidecarOf(spark, dirC, "build_meta.parquet"))
        .select("residual").head().getBoolean(0))
      assert(!spark.read.parquet(
          Similarity.sidecarOf(spark, dirN, "build_meta.parquet"))
        .select("residual").head().getBoolean(0))
      // and the written layout IS the explicit face's, probe-identical
      val qC = clustered.filter($"vec_id" < 8)
      Similarity.pqIndexWrite(clustered, dirC2, nCentroids = 64,
        spec = IndexSpec(encoding = "residual"))
      assert(Similarity.ivfPqTopK(spark, dirC, qC, k = 3, nProbe = 4)
          .orderBy("query_id", "rank").collect().toSeq
        == Similarity.ivfPqTopK(spark, dirC2, qC, k = 3, nProbe = 4)
          .orderBy("query_id", "rank").collect().toSeq)
      val qN = emb.filter($"vec_id" < 8)
      Similarity.pqIndexWrite(emb, dirN2, nCentroids = 16)
      assert(Similarity.ivfPqTopK(spark, dirN, qN, k = 3, nProbe = 4)
          .orderBy("query_id", "rank").collect().toSeq
        == Similarity.ivfPqTopK(spark, dirN2, qN, k = 3, nProbe = 4)
          .orderBy("query_id", "rank").collect().toSeq)
    } finally Seq(dirC, dirC2, dirN, dirN2).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("pqIndexWrite quality knobs: refined components == pqIndexWriteWith of the same refinements") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 8)
    val dir1 = java.nio.file.Files.createTempDirectory("graft-pqk1").toString
    val dir2 = java.nio.file.Files.createTempDirectory("graft-pqk2").toString
    try {
      // the Lloyd-refined codebook path is deterministic (ordered
      // folds), so the knob must be EXACTLY the manual composition
      Similarity.pqIndexWrite(emb, dir1, nCentroids = 16,
        spec = IndexSpec(pqKmeansIterations = 2))
      Similarity.pqIndexWriteWith(emb, dir2,
        Similarity.ivfIndex(emb, nCentroids = 16)._1,
        Similarity.pqCentroidsKMeans(emb, iterations = 2))
      val a = Similarity.ivfPqTopK(spark, dir1, queries, k = 5, nProbe = 4)
        .orderBy("query_id", "rank").collect().toSeq
      val b = Similarity.ivfPqTopK(spark, dir2, queries, k = 5, nProbe = 4)
        .orderBy("query_id", "rank").collect().toSeq
      assert(a.nonEmpty && a == b)
      // the coarse-quantizer knob (avg-means Lloyd — quality path, not
      // oracle-stable): the served index stays probe-able end to end
      val dir3 = java.nio.file.Files.createTempDirectory("graft-pqk3").toString
      try {
        Similarity.pqIndexWrite(emb, dir3, nCentroids = 16,
          spec = IndexSpec(kmeansIterations = 1, pqKmeansIterations = 1))
        val c = Similarity.ivfPqTopK(spark, dir3, queries, k = 5, nProbe = 4)
        assert(c.count() == 8L * 5)
      } finally {
        val p = new org.apache.hadoop.fs.Path(dir3)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      }
    } finally Seq(dir1, dir2).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("ivfPqTopKReranked: R = corpus & nProbe = all IS brute force; exact rerank recovers what ADC misorders") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-pqrr").toString
    try {
      Similarity.pqIndexWrite(emb, dir, nCentroids = 16)
      val queries = emb.filter($"vec_id" < 8)
      val n = emb.count().toInt
      // the exactness pin: retrieving EVERY candidate and reranking
      // exactly is bruteForceTopK, bit for bit (same fold, same ties)
      val reranked = Similarity.ivfPqTopKReranked(spark, dir, queries, emb,
          k = 5, rerank = n, nProbe = 16)
        .orderBy("query_id", "rank").collect().toSeq
      val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
        .orderBy("query_id", "rank").collect().toSeq
      assert(reranked.nonEmpty && reranked == brute)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
    // the recall pin, on a corpus built so ADC MUST misorder: ADC is
    // squared L2 on un-normalized vectors, cosine is scale-invariant —
    // a 2x-scaled twin of the query direction has cosine 1.0 (the true
    // nearest) but large L2 distance to every codebook cell the query
    // is near, so the ADC-only top-1 picks the L2-nearest distractor
    // (v3, one dim off the query — cosine < 1) while the exact rerank
    // of the SAME retrieved set recovers the twin. The query direction
    // is NOT any base vector's (else the base vector ties the twin at
    // cosine 1.0 and wins on id).
    val dim = 64
    val base = (0 until 16).map(i =>
      (i.toLong, Array.tabulate(dim)(j => (i * dim + j).toFloat / 100f)))
    val u = base(3)._2.clone(); u(0) += 0.05f // near v3, distinct direction
    val twin = (100L, u.map(_ * 2.0f)) // the query's direction, 2x magnitude
    val corpus = (base :+ twin).toDF("vec_id", "embedding")
    val query = Seq((200L, u)).toDF("vec_id", "embedding")
    val dir2 = java.nio.file.Files.createTempDirectory("graft-pqrr2").toString
    try {
      Similarity.pqIndexWrite(corpus, dir2, nCentroids = 4, m = 8, ksub = 16)
      val adcOnly = Similarity.ivfPqTopK(spark, dir2, query, k = 1, nProbe = 4)
        .select("id").as[Long].collect()
      val rr = Similarity.ivfPqTopKReranked(spark, dir2, query, corpus,
          k = 1, rerank = 17, nProbe = 4)
        .select("id", "cosine").as[(Long, Double)].collect()
      assert(rr.length == 1 && rr.head._1 == 100L
          && math.abs(rr.head._2 - 1.0) < 1e-12,
        s"rerank must recover the scaled twin at cosine 1, got ${rr.toSeq}")
      assert(adcOnly.headOption.contains(3L),
        s"precondition: ADC-only must pick the same-magnitude v3, got ${adcOnly.toSeq}")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir2)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("residual IVF-PQ: self-describing index retrieves exact twins at adc 0 through build AND append; residual encode error beats raw on real data") {
    // 16 strictly-increasing vectors, n=16 -> stride 1: every RESIDUAL
    // is a sampled cell, so the residual codebook self-codes and an
    // exact copy's ADC distance to its twin is exactly 0 — the same
    // invariant the raw-PQ spec pins, now through the residual path
    val base = (0 until 16).map(i =>
      (i.toLong, Array.tabulate(64)(j => (i * 64 + j).toFloat / 100f)))
    val df16 = base.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-pqres").toString
    try {
      Similarity.pqIndexWrite(df16, dir, nCentroids = 4,
        spec = IndexSpec(encoding = "residual"))
      val query = Seq((200L, base(3)._2)).toDF("vec_id", "embedding")
      val top1 = Similarity.ivfPqTopK(spark, dir, query, k = 1, nProbe = 4)
        .select("id", "adc_dist").as[(Long, Double)].collect()
      assert(top1.toSeq == Seq((3L, 0.0)),
        s"the twin must surface at adc 0 through the residual LUT, got ${top1.toSeq}")
      // APPEND on a residual index must residual-encode the shard
      // against the STORED geometry (build_meta residual=true — the
      // flag is the index's, not the caller's): an appended exact copy
      // lands at adc 0 too; a raw-encoded shard would score garbage
      val shard = Seq((300L, base(3)._2)).toDF("vec_id", "embedding")
      Similarity.ivfIndexAppend(spark, dir, shard)
      val top2 = Similarity.ivfPqTopK(spark, dir, query, k = 2, nProbe = 4)
        .select("rank", "id", "adc_dist").as[(Int, Long, Double)].collect()
        .sortBy(_._1)
      assert(top2.toSeq == Seq((1, 3L, 0.0), (2, 300L, 0.0)),
        s"appended twin must share codes with the original, got ${top2.toSeq}")
      // the rerank composition is encoding-agnostic: over the residual
      // index too, R = corpus & nProbe = all is EXACTLY brute force
      val corpus17 = (base :+ (300L, base(3)._2)).toDF("vec_id", "embedding")
      val rr = Similarity.ivfPqTopKReranked(spark, dir, query, corpus17,
          k = 3, rerank = 17, nProbe = 4)
        .orderBy("rank").collect().toSeq
      val bf = Similarity.bruteForceTopK(corpus17, query, k = 3)
        .orderBy("rank").collect().toSeq
      assert(rr == bf, "rerank over the residual index == brute force at R=corpus")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }

    // the reason residual encoding exists — and its regime boundary,
    // both pinned. Total encode error = sum of min-cell squared L2
    // over (vector, subspace), driver-side for both forms.
    def totalError(vecsDf: org.apache.spark.sql.DataFrame,
                   bookDf: org.apache.spark.sql.DataFrame,
                   idC: String, vecC: String): Double = {
      val book = bookDf.orderBy("sub", "cid")
        .as[(Int, Int, Seq[Double])].collect()
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3.toArray))
      val vecs = vecsDf.select(col(idC), col(vecC)).collect()
        .map(_.getSeq[Double](1).toArray)
      vecs.map { v =>
        book.zipWithIndex.map { case (cells, s) =>
          cells.map { c =>
            var d = 0.0; var j = 0
            while (j < 8) { val x = v(s * 8 + j) - c(j); d += x * x; j += 1 }
            d
          }.min
        }.sum
      }.sum
    }
    def errorsOf(corpus: org.apache.spark.sql.DataFrame,
                 nCentroids: Int): (Double, Double) = {
      val rawVecs = corpus.select(col("vec_id").as("id"),
        Similarity.toDouble(col("embedding")).as("vec"))
      val rawErr = totalError(rawVecs, Similarity.pqCentroids(corpus), "id", "vec")
      val centroids = Similarity.ivfIndex(corpus, nCentroids)._1
      val res = Similarity.ivfAssign(corpus, centroids)
        .join(broadcast(centroids), "centroid_id")
        .select(col("id"),
          zip_with(col("vec"), col("cvec"), (x, y) => x - y).as("vec"))
      (rawErr, totalError(res,
        Similarity.pqCentroids(Similarity.residualRows(corpus, centroids,
          "vec_id", "embedding"), 8, 16, "id", "vec"), "id", "vec"))
    }
    // CLUSTERED corpus — 64 tight clusters x 2 members, MORE clusters
    // than the 16 PQ cells can describe but few enough for the 64
    // coarse centroids: raw PQ must spend its cells on 16 of the 64
    // cluster centers and pays full center distance on the rest, while
    // the coarse quantizer absorbs every center and leaves PQ only the
    // tiny within-cluster offsets — residual error must drop by a wide
    // margin. (A same-grid fixture where the IVF and PQ stride samples
    // coincide makes the two errors EQUAL identically — residual
    // coding's win requires the quantizer to carry information the
    // codebook cannot.)
    val clustered = (0 until 128).map { id =>
      val kk = id / 2
      (id.toLong, Array.tabulate(64) { j =>
        (((kk * 64 + j) * 2654435761L % 17).toFloat - 8f) +
          0.01f * (((id * 40503L + j) % 7).toFloat - 3f)
      })
    }.toDF("vec_id", "embedding")
    val (rawC, resC) = errorsOf(clustered, nCentroids = 64)
    assert(resC < 0.5 * rawC,
      s"clustered data: residual must tighten quantization, raw=$rawC residual=$resC")
    // NOISE regime (the near-orthogonal synthetic embeddings): the
    // orthogonality identity ||v - c||^2 ~= ||v||^2 + ||c||^2 means
    // subtracting an unrelated centroid ADDS energy — residual coding
    // is WORSE here, exactly like ADC recall (the d09d regime notes).
    // Pinned so the boundary is documented behavior, not a surprise.
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val (rawN, resN) = errorsOf(emb, nCentroids = 16)
    assert(resN > rawN,
      s"noise regime: residual coding is expected to LOSE, raw=$rawN residual=$resN")
  }

  test("pqCentroidsKMeans: fixed point on the self-coding fixture; encode error never increases on real data") {
    // 16 vectors, ksub=16, stride 1: the seed cells hold exactly one
    // member each (self-coding), so assignment is the identity and the
    // per-cell mean is the member itself — Lloyd must be a FIXED POINT
    val base = (0 until 16).map(i =>
      (i.toLong, Array.tabulate(64)(j => (i * 64 + j).toFloat / 100f)))
    val df16 = base.toDF("vec_id", "embedding")
    val seed = Similarity.pqCentroids(df16)
      .orderBy("sub", "cid").as[(Int, Int, Seq[Double])].collect().toSeq
    val refined = Similarity.pqCentroidsKMeans(df16, iterations = 2)
      .orderBy("sub", "cid").as[(Int, Int, Seq[Double])].collect().toSeq
    assert(refined == seed, "Lloyd over singleton cells must not move")

    // on the real (non-uniform) embeddings, each Lloyd round weakly
    // decreases the total encode distance — the reason the refined
    // book exists; computed driver-side against both books
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val vecs = emb.as[(Long, Array[Float])].collect()
      .map { case (_, v) => v.map(_.toDouble) }
    def encodeError(bookDf: org.apache.spark.sql.DataFrame): Double = {
      val book = bookDf.orderBy("sub", "cid")
        .as[(Int, Int, Seq[Double])].collect()
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3.toArray))
      vecs.map { v =>
        book.zipWithIndex.map { case (cells, s) =>
          cells.map { c =>
            var d = 0.0
            var j = 0
            while (j < 8) {
              val x = v(s * 8 + j) - c(j); d += x * x; j += 1
            }
            d
          }.min
        }.sum
      }.sum
    }
    val e0 = encodeError(Similarity.pqCentroids(emb))
    val kmBook = Similarity.pqCentroidsKMeans(emb, iterations = 1)
    val e1 = encodeError(kmBook)
    val e2 = encodeError(Similarity.pqCentroidsKMeans(emb, iterations = 2))
    assert(e1 <= e0 && e2 <= e1,
      s"Lloyd must not increase encode error: $e0 -> $e1 -> $e2")
    assert(e1 < e0, "one round on non-uniform data must actually tighten")
    // planted-pair ADC margin does not degrade under the refined book:
    // an exact copy shares its twin's codes under ANY codebook, so the
    // twin's ADC distance is exactly the query's own encode error — the
    // minimum any candidate can reach — and it stays rank 1 (ties to
    // the twin's lower id). Unlike the self-coding fixture, adc is NOT
    // 0 here: the refined cells are means, not members.
    val copies = emb.filter($"vec_id" < 8)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding")
    val union = emb.unionByName(copies)
    val kmCodes = Similarity.pqEncode(union, kmBook)
    val top1 = Similarity.pqTopK(kmBook, kmCodes, copies, k = 1)
      .select("query_id", "id")
      .as[(Long, Long)].collect()
    assert(top1.length == 8)
    top1.foreach { case (q, id) =>
      assert(id == q - 100000,
        s"planted twin must stay rank-1 under the refined book, got ($q, $id)")
    }
  }

  test("probe subtrees execute once: the checkpointed probes cut the centroids re-scan out of the served plan") {
    // This pins the DISTRIBUTED probe path (a parquet-backed query
    // frame; a local one builds its probes on the driver, pinned in
    // ServedProbeSpec). verdict r15 #2: ivfPqTopK/ivfTopKIndexed
    // computed the queries x centroids rank twice — once for the
    // pruning pull, once as the scoring join's broadcast side. The
    // probes frame is localCheckpoint'ed before the collect, so the
    // SERVED plan reads the materialized probes (a scan) instead of
    // re-executing the rank — no centroids.parquet scan may remain in
    // it. Values are pinned by the d09a/d09e oracles and the equality
    // specs above.
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-once").toString
    try {
      Similarity.ivfIndexWrite(emb, dir, nCentroids = 16)
      val ivf = Similarity.ivfTopKIndexed(spark, dir, queries, k = 5, nProbe = 4)
      assert(!ivf.queryExecution.executedPlan.toString.contains("centroids.parquet"),
        "ivfTopKIndexed must not re-execute the centroid rank in the served plan")
      val dirPq = java.nio.file.Files.createTempDirectory("graft-once2").toString
      try {
        Similarity.pqIndexWrite(emb, dirPq, nCentroids = 16)
        val pq = Similarity.ivfPqTopK(spark, dirPq, queries, k = 5, nProbe = 4)
        assert(!pq.queryExecution.executedPlan.toString.contains("centroids.parquet"),
          "ivfPqTopK must not re-execute the centroid rank + LUT build in the served plan")
      } finally {
        val p = new org.apache.hadoop.fs.Path(dirPq)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      }
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("incremental embedding dedup == cross-side pairs of the full banded form") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val batch = emb.filter($"vec_id" % 10 === 0)
    val index = emb.filter($"vec_id" % 10 =!= 0)
    val inc = Dedup.embeddingNearDupsIncremental(batch, index,
        "vec_id", "embedding", tables = 3, planesPerTable = 4,
        threshold = 0.25)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // ground truth: the full banded run over the union, restricted to
    // pairs that straddle the split and re-oriented (batch, index)
    val full = Dedup.embeddingNearDupsBanded(emb, "vec_id", "embedding",
        tables = 3, planesPerTable = 4, threshold = 0.25)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val cross = full
      .filter(p => (p._1 % 10 == 0) != (p._2 % 10 == 0))
      .map(p => if (p._1 % 10 == 0) p else (p._2, p._1))
    assert(inc.nonEmpty, "fixture must produce cross-side pairs or the pin is vacuous")
    assert(inc == cross,
      s"batch x index pairs must equal the full form's cross-side slice " +
        s"(${inc.size} vs ${cross.size})")
  }

  test("prebanded embedding increment == direct form; param drift fails fast") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val batch = emb.filter($"vec_id" % 10 === 0)
    val index = emb.filter($"vec_id" % 10 =!= 0)
    val sidecar = Dedup.embeddingBandSignatures(index, "vec_id", "embedding",
      tables = 3, planesPerTable = 4)
    val pre = Dedup.embeddingNearDupsIncremental(batch, index,
        "vec_id", "embedding", tables = 3, planesPerTable = 4,
        threshold = 0.25, indexBands = Some(sidecar))
      .orderBy("id_a", "id_b").collect().toSeq
    val direct = Dedup.embeddingNearDupsIncremental(batch, index,
        "vec_id", "embedding", tables = 3, planesPerTable = 4,
        threshold = 0.25)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(pre.nonEmpty && pre == direct,
      "sidecar path must be row-identical (cosine included) to the direct form")
    // a sidecar built with different (L, r, dim) would bucket nothing in
    // common and silently admit near-dups — the params column fails fast
    val drifted = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupsIncremental(batch, index,
        "vec_id", "embedding", tables = 2, planesPerTable = 4,
        threshold = 0.25, indexBands = Some(sidecar))
    }
    assert(drifted.getMessage.contains("L=3,r=4,dim=64")
        && drifted.getMessage.contains("L=2,r=4,dim=64"),
      s"mismatch message must show both parameter sets: ${drifted.getMessage}")
    // empty index: nothing to collide with, same schema, no crash
    assert(Dedup.embeddingNearDupsIncremental(batch, index.limit(0),
      "vec_id", "embedding").count() == 0)
  }

  test("approx profile (HLL path): same shape, estimates within 10% of exact") {
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val cols = Seq("o_custkey", "o_orderstatus")
    val exact = datax.Profile.profile(orders, cols).orderBy("col_name")
      .as[(String, Long, Long, Long)].collect().toSeq
    val approx = datax.Profile.profile(orders, cols, exact = false).orderBy("col_name")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(approx.map(r => (r._1, r._2, r._3)) == exact.map(r => (r._1, r._2, r._3)),
      "row/non-null counts identical; only distinct is estimated")
    exact.zip(approx).foreach { case (e, a) =>
      assert(math.abs(a._4 - e._4).toDouble / e._4 <= 0.10,
        s"${e._1}: HLL ${a._4} vs exact ${e._4}")
    }
  }

  test("semanticDedup drops the larger id of a within-cluster near-twin pair") {
    spark.sqlContext.clearCache() // isolate the cache-lifecycle asserts below
    // 1 and 2 are near-identical (cosine ~1) -> same cluster, 2 dropped;
    // 3 is orthogonal-ish -> kept; every vector appears exactly once
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), // id 0 is also the stride-0 centroid seed
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(-0.9f, 0.9f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.semanticDedup(vecs, nCentroids = 2, threshold = 0.95)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(r.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L), "one row per vector")
    val keep = r.map(x => x._1 -> x._3).toMap
    assert(keep(1L), "smaller id of the twin pair is kept")
    assert(!keep(2L), "larger id of the twin pair is dropped")
    assert(keep(3L), "non-duplicate kept")
    // within-cluster only: same keep decisions must be reproducible
    val again = Similarity.semanticDedup(vecs, nCentroids = 2, threshold = 0.95)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(r.toSeq == again.toSeq)
    // the internal assignment cache follows the shared datax lifecycle
    assert(!spark.sharedState.cacheManager.isEmpty,
      "semanticDedup keeps its assignment cache alive for the lazy plan")
    Dedup.releaseShingleCaches()
    assert(spark.sharedState.cacheManager.isEmpty,
      "releaseShingleCaches drops the assignment cache too")
  }

  test("centroidsFor: sqrt growth rule with floor 16 and loud clamp") {
    assert(datax.Similarity.centroidsFor(0L) == 16)
    assert(datax.Similarity.centroidsFor(100L) == 16) // sqrt below the floor
    assert(datax.Similarity.centroidsFor(10000L) == 100)
    assert(datax.Similarity.centroidsFor(1000000L) == 1000)
    assert(datax.Similarity.centroidsFor(100000000L) == 4096, "clamped")
    assert(datax.Similarity.centroidsFor(1000000L, maxCentroids = 500) == 500)
  }

  test("semanticDedupAuto bounds per-doc candidate load as n grows 10x") {
    // Pair-work proxy (the planesFor-spec pattern): sum over clusters of
    // width^2, per doc. Fixed K=16 grows it ~n (all-pairs in disguise);
    // the sqrt rule holds growth to ~sqrt(n).
    def mkVecs(n: Int) = (0 until n).map { i =>
      val angle = (i % 97).toDouble / 97.0 * math.Pi
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat,
        ((i % 7).toDouble / 7.0).toFloat))
    }.toDF("vec_id", "embedding")
    def load(n: Int, fixedK: Option[Int]): Double = {
      val out = fixedK match {
        case Some(k) => datax.Similarity.semanticDedup(mkVecs(n), k, threshold = 0.999)
        case None    => datax.Similarity.semanticDedupAuto(mkVecs(n), threshold = 0.999)
      }
      val w = out.groupBy("centroid_id").count().as[(Long, Long)].collect()
      datax.Dedup.releaseShingleCaches()
      w.map(x => x._2.toDouble * x._2).sum / n
    }
    val (n1, n2) = (300, 3000)
    val autoGrowth = load(n2, None) / load(n1, None)
    val fixedGrowth = load(n2, Some(16)) / load(n1, Some(16))
    assert(fixedGrowth > 6.0, s"fixed K should grow ~10x, got $fixedGrowth")
    assert(autoGrowth < 5.0, s"sqrt rule should grow ~sqrt(10)x, got $autoGrowth")
    assert(autoGrowth < fixedGrowth / 1.8,
      s"auto $autoGrowth not clearly bounded vs fixed $fixedGrowth")
  }

  test("semanticDedup hot-cluster guard: rerouted output matches the exact path") {
    spark.sqlContext.clearCache()
    // Two 60-wide clusters of 5 directions each; duplicate pairs are
    // IDENTICAL vectors (banded LSH recall is deterministically 1: same
    // sign pattern in every table), non-identical same-cluster pairs sit
    // at cosine <= 0.9993, below the 0.9999 threshold.
    val vecs = (0 until 120).map { i =>
      val j = i % 5
      val base = if (i < 60) Array(1.0f, 0.01f * j, 0.0f)
                 else Array(0.0f, 0.01f * j, 1.0f)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    def run(widthCap: Long) =
      datax.Similarity.semanticDedup(vecs, nCentroids = 2, threshold = 0.9999,
          maxClusterWidth = widthCap)
        .as[(Long, Long, Boolean)].collect().toSet
    val exact = run(Long.MaxValue) // guard off: all-pairs within cluster
    val guarded = run(10L)         // both clusters hot: banded LSH path
    datax.Dedup.releaseShingleCaches()
    assert(exact == guarded,
      s"guarded path diverged: ${(exact diff guarded) ++ (guarded diff exact)}")
    // sanity: the dataset actually exercises both keeps and drops
    assert(exact.exists(_._3) && exact.exists(!_._3))
  }

  test("chunked-range ordered folds: bit-equal to flat on exact sums, partition-invariant") {
    // dyadic values (multiples of 2^-10, bounded magnitude): every partial
    // sum is exactly representable, so the chunk-seam re-association
    // cannot round — chunked MUST equal flat bitwise here. On arbitrary
    // data the contract is partition-invariance (second assert), not
    // flat-equality.
    val vecs = (0 until 200).map { i =>
      (i.toLong, s"l${i % 3}", Array(
        (i % 17).toFloat / 1024f, ((i * 7) % 13).toFloat / 64f))
    }.toDF("vec_id", "label", "embedding")
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getInt(1))
    val flat = datax.Similarity.labelCentroids(vecs).collect()
      .map(r => key(r) -> (r.getDouble(2), r.getLong(3))).toMap
    val chunked = datax.Similarity.labelCentroids(vecs, chunkIds = 16L).collect()
      .map(r => key(r) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(chunked == flat, "chunked fold diverged from flat on exact sums")
    val reparted = datax.Similarity.labelCentroids(vecs.repartition(7), chunkIds = 16L)
      .collect().map(r => key(r) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(reparted == chunked, "chunked fold depends on partitioning")
    // same contract for the Lloyd-refined ordered centroids: each round's
    // fold runs over the original (dyadic) member values, so chunked and
    // flat rounds stay bit-identical end to end
    val kFlat = datax.Similarity.kmeansCentroidsOrdered(vecs, nCentroids = 4,
        iterations = 2)
      .as[(Long, Int, Double)].collect().toSet
    val kChunked = datax.Similarity.kmeansCentroidsOrdered(vecs, nCentroids = 4,
        iterations = 2, chunkIds = 16L)
      .as[(Long, Int, Double)].collect().toSet
    assert(kChunked == kFlat, "chunked kmeans fold diverged on exact sums")
  }

  test("kmeans-refined IVF centroids tighten the quantizer (objective >= stride seed)") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    // objective: mean cosine of each vector to its assigned centroid
    def objective(assigned: org.apache.spark.sql.DataFrame,
                  centroids: org.apache.spark.sql.DataFrame): Double =
      assigned.join(centroids, "centroid_id")
        .select(Similarity.cosine($"vec", $"cvec").as("c"))
        .agg(avg($"c")).head().getDouble(0)
    val (c0, a0) = Similarity.ivfIndex(emb, nCentroids = 16)
    val (c2, a2) = Similarity.ivfIndexKMeans(emb, nCentroids = 16, iterations = 2)
    val (seed, refined) = (objective(a0, c0), objective(a2, c2))
    assert(refined >= seed - 1e-9, s"Lloyd must not worsen the objective: $seed -> $refined")
    assert(c2.count() == 16, "empty clusters keep their previous centroid")
    // the refined index still serves queries with full result shape
    val q = emb.filter($"vec_id" < 4)
    val res = Similarity.ivfTopK(c2, a2, q, k = 5, nProbe = 4)
    assert(res.groupBy("query_id").count().select("count").as[Long].collect().forall(_ == 5))
  }

  test("min-id-anchored training strides: an all-odd-id corpus (dedup-" +
       "survivor id layout) trains a full quantizer, codebook, and auto " +
       "build (round-18 ADVICE: bare `id % stride == 0` picked NOTHING here)") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(($"vec_id" * 2 + 1).as("vec_id"), $"embedding") // ids 1,3,5,…
    val (cents, _) = Similarity.ivfIndex(emb, nCentroids = 16)
    assert(cents.count() == 16,
      "the anchored stride must pick a full centroid set from odd ids")
    assert(Similarity.pqCentroids(emb).count() == 8L * 16,
      "the anchored stride must train the full m x ksub codebook")
    val dir = java.nio.file.Files.createTempDirectory("graft-oddids").toString
    try {
      // end-to-end: the chooser trains both books and writes a servable
      // index (before the anchor this failed before the chooser ran)
      Similarity.pqIndexWrite(emb, dir, nCentroids = 16,
        spec = IndexSpec(encoding = "auto"))
      val queries = emb.filter($"vec_id" < 32)
      val res = Similarity.ivfPqTopK(spark, dir, queries, k = 5, nProbe = 4)
      assert(res.groupBy("query_id").count()
        .select("count").as[Long].collect().forall(_ == 5))
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("ivfIndexMaintain replays the RECORDED build quality (round 18): " +
       "kmeans||- and reservoir-seeded indexes rebuild with their own " +
       "construction, an auto index re-runs the chooser, a given-quantizer " +
       "index warns and stride-rebuilds") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 2 === 0)
    val shard = emb.filter($"vec_id" % 2 === 1) // staleness 1.0 -> fires
    val queries = emb.filter($"vec_id" < 8)
    def probe(pq: Boolean, d: String) =
      (if (pq) Similarity.ivfPqTopK(spark, d, queries, k = 5, nProbe = 4)
       else Similarity.ivfTopKIndexed(spark, d, queries, k = 5, nProbe = 4))
        .orderBy("query_id", "rank").collect().toSeq
    def metaOf(d: String) = spark.read.parquet(
      Similarity.sidecarOf(spark, d, "build_meta.parquet"))
    val qualityCols = Seq("seeding", "kmeans_iterations", "seed_rounds",
      "seed_oversample", "seed", "pq_kmeans_iterations", "pq_chunk_ids",
      "auto", "sample_multiple")
    def recorded(s: IndexSpec) = Row(s.seeding, s.kmeansIterations,
      s.rounds, s.oversample, s.seed, s.pqKmeansIterations, s.pqChunkIds,
      s.encoding == "auto", s.sampleMultiple)
    val dirs = scala.collection.mutable.ArrayBuffer.empty[String]
    def fresh() = {
      val d = java.nio.file.Files.createTempDirectory("graft-qmaint").toString
      dirs += d; d
    }
    // every reachable spec cell: (layout, spec), None = the given-
    // quantizer face (construction unknown -> loud stderr warn + the
    // default-spec rebuild, the documented downgrade)
    val cells: Seq[(Boolean, Option[IndexSpec])] = Seq(
      (false, Some(IndexSpec())),
      (false, Some(IndexSpec(seeding = "reservoir"))),
      (false, Some(IndexSpec(seeding = "kmeans_parallel",
        kmeansIterations = 2))),
      (false, None),
      (true, Some(IndexSpec())),
      (true, Some(IndexSpec(seeding = "reservoir"))),
      (true, Some(IndexSpec(seeding = "kmeans_parallel",
        kmeansIterations = 2))),
      (true, None),
      (true, Some(IndexSpec(encoding = "residual"))),
      // the auto record re-runs the chooser (the recorded decision
      // PROCEDURE — drift can move the regime), at the RECORDED width
      (true, Some(IndexSpec(encoding = "auto"))),
      (true, Some(IndexSpec(encoding = "auto", sampleMultiple = 2))),
      // residual + Lloyd on both halves, chunked codebook fold
      (true, Some(IndexSpec(encoding = "residual", kmeansIterations = 1,
        pqKmeansIterations = 1, pqChunkIds = 64L))))
    try cells.foreach { case (pq, spec) =>
      val cell = s"${if (pq) "pq" else "ivf"} ${spec.getOrElse("given")}"
      val d = fresh(); val explicit = fresh()
      spec match {
        case Some(s) if pq => Similarity.pqIndexWrite(base, d, spec = s)
        case Some(s) => Similarity.ivfIndexWrite(base, d, 16, spec = s)
        case None if pq => Similarity.pqIndexWriteWith(base, d,
          Similarity.ivfIndex(base, nCentroids = 16)._1,
          Similarity.pqCentroids(base))
        case None => Similarity.ivfIndexWriteWith(base, d,
          Similarity.ivfIndex(base, nCentroids = 16)._1)
      }
      assert(metaOf(d).select(qualityCols.map(col): _*).head() ==
        recorded(spec.getOrElse(IndexSpec(seeding = "given"))),
        s"$cell: the build must record its spec verbatim")
      Similarity.ivfIndexAppendBatch(spark, d, shard, 0L)
      val errBuf = new java.io.ByteArrayOutputStream()
      val oldErr = System.err
      System.setErr(new java.io.PrintStream(errBuf, true))
      val m = try Similarity.ivfIndexMaintain(spark, d, emb)
        finally System.setErr(oldErr)
      assert(m.rebuilt, cell)
      assert(Similarity.ivfIndexStaleness(spark, d) == Some(0.0),
        s"$cell: a fire is a real rebuild: staleness resets")
      assert(errBuf.toString.contains("CALLER-SUPPLIED") == spec.isEmpty,
        s"$cell: only the given record warns, got: ${errBuf.toString.take(400)}")
      val replayed = spec.getOrElse(IndexSpec())
      if (pq) Similarity.pqIndexWrite(emb, explicit, spec = replayed)
      else Similarity.ivfIndexWrite(emb, explicit, 16, spec = replayed)
      assert(metaOf(d).head() == metaOf(explicit).head(),
        s"$cell: the replay's whole build_meta row must equal the explicit build's")
      assert(probe(pq, d) == probe(pq, explicit),
        s"$cell: maintenance must replay the recorded construction exactly")
    } finally dirs.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("IndexSpec admits only reachable builds: an unreachable seeding x " +
       "encoding cell and PQ-only fields on the plain layout raise") {
    Seq(() => IndexSpec(seeding = "reservoir", encoding = "residual"),
        () => IndexSpec(seeding = "kmeans_parallel", encoding = "auto"),
        () => IndexSpec(seeding = "given", kmeansIterations = 2),
        () => IndexSpec(seeding = "stride", seed = 7L),
        () => IndexSpec(encoding = "raw", sampleMultiple = 2),
        () => IndexSpec(seeding = "lloyd")).foreach { mk =>
      val ex = intercept[IllegalArgumentException](mk())
      assert(ex.getMessage.contains("is not a buildable index"),
        s"got: ${ex.getMessage}")
    }
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-specreq").toString
    try {
      Seq(IndexSpec(encoding = "residual"), IndexSpec(pqKmeansIterations = 1),
          IndexSpec(pqChunkIds = 8L)).foreach { spec =>
        val ex = intercept[IllegalArgumentException](
          Similarity.ivfIndexWrite(emb, dir, 16, spec = spec))
        assert(ex.getMessage.contains("PQ-only"), s"got: ${ex.getMessage}")
      }
      val ex = intercept[IllegalArgumentException](Similarity.pqIndexWrite(
        emb, dir, spec = IndexSpec(seeding = "given")))
      assert(ex.getMessage.contains("pqIndexWriteWith"), s"got: ${ex.getMessage}")
      assert(!new java.io.File(dir, "assigned.parquet").exists() &&
        !new java.io.File(dir, "codes.parquet").exists(),
        "a rejected spec must not write anything")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("a skew-only fire replays the recorded construction, and a rebuild " +
       "right after it keeps the consumed cutoff: a late replay of the " +
       "absorbed batch stays invisible") {
    // four tight, mutually near-orthogonal direction clusters: axis j
    // carries cluster j, axes 4-7 carry small within-cluster variation
    def clusterVec(j: Int, i: Int): Array[Float] =
      Array.tabulate(8)(d =>
        (if (d == j) 1.0f else 0f) +
          (if (d == j + 4) 0.02f * (i % 5) else 0f))
    val corpus = (0 until 64).map(i => (i.toLong, clusterVec(i % 4, i)))
      .toDF("vec_id", "embedding")
    // the skewing shard: 32 more rows, ALL in cluster 0 — bucket 0
    // reads 48 vs median 16 (skew 3.0), staleness only 0.5
    val shard = (0 until 32).map(i => (1000L + i, clusterVec(0, i)))
      .toDF("vec_id", "embedding")
    val full = corpus.unionByName(shard)
    val spec = IndexSpec(seeding = "reservoir", seed = 42L,
      kmeansIterations = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft-skewfire").toString
    val dirX = java.nio.file.Files.createTempDirectory("graft-skewfireX").toString
    try {
      Similarity.ivfIndexWrite(corpus, dir, nCentroids = 4, spec = spec)
      Similarity.ivfIndexAppendBatch(spark, dir, shard, 0L)
      val m = Similarity.ivfIndexMaintain(spark, dir, full,
        maxStaleness = 1e9, maxSkew = 2.0)
      assert(m.rebuilt && m.staleness.exists(_ < 1e9),
        s"the skew trigger alone must fire: $m")
      // the fire IS the recorded construction: identical to the
      // explicit reservoir build over the full corpus
      Similarity.ivfIndexWrite(full, dirX, nCentroids = 4, spec = spec)
      val queries = corpus.filter($"vec_id" < 8)
      def probe(d: String) = Similarity.ivfTopKIndexed(spark, d, queries,
        k = 5, nProbe = 2).orderBy("query_id", "rank").collect().toSeq
      assert(probe(dir) == probe(dirX),
        "the skew fire must replay the recorded construction")
      assert(spark.read.parquet(
          Similarity.sidecarOf(spark, dir, "build_meta.parquet"))
        .select("seeding").head().getString(0) == "reservoir",
        "the quality record survives the fire")
      // the consumed token survives a SECOND rebuild (round-20 review
      // finding): it commits with the increment dirs already cleared,
      // so a raw snapshot would stamp "nothing consumed" — the commit
      // carries the fire's cutoff forward instead, and a late
      // at-least-once replay of the absorbed batch lands invisible,
      // exactly as after a single rebuild
      Similarity.ivfIndexWrite(full, dir, nCentroids = 4, spec = spec)
      val postRebuild = probe(dir)
      Similarity.ivfIndexAppendBatch(spark, dir, shard, 0L) // late replay
      assert(probe(dir) == postRebuild,
        "a replayed consumed batch must stay invisible after the second " +
          "rebuild")
      assert(Similarity.ivfIndexStaleness(spark, dir) == Some(0.0),
        "the replayed batch must not read as fresh appended rows")
    } finally Seq(dir, dirX).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("one-pass whole-build commit (round 20): the corpus is traversed " +
       "EXACTLY ONCE per rebuild (built_n rides the staged row write via " +
       "observe() — the separate build_meta count job is gone), and a " +
       "crash inside that one staged pass rolls the WHOLE build back — " +
       "rows, geometry, and the quality record stay the prior build's, " +
       "the unconsumed increment batch stays visible, staleness never " +
       "skews") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 5 =!= 3)
    val shard = emb.filter($"vec_id" % 5 === 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-markinc").toString
    val clean = java.nio.file.Files.createTempDirectory("graft-markinc2").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def exists(name: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$name"))
    try {
      Similarity.ivfIndexWrite(base, dir, nCentroids = 16)
      Similarity.ivfIndexAppendBatch(spark, dir, shard, 0L)
      val queries = emb.filter($"vec_id" < 8)
      def probe(d: String) = Similarity.ivfTopKIndexed(spark, d, queries,
        k = 5, nProbe = 4).orderBy("query_id", "rank").collect().toSeq
      val preCrash = probe(dir)
      val preStaleness = Similarity.ivfIndexStaleness(spark, dir)
      assert(preStaleness.exists(_ > 0), "the appended shard is visible")
      // a corpus frame that crashes DURING its (single) traversal — the
      // staged row-table write. Round 19 had a second corpus traversal
      // (the trailing build_meta count job) whose crash window rolled
      // the quality record back to the prior build; round 20 removed
      // the traversal itself (built_n = the observed row count of the
      // staged write), so the only corpus-crash window left is inside
      // the staging, BEFORE the point of no return — the crash must
      // roll the WHOLE build back
      DataxSpec.crashGate.set(0)
      val crashy = spark.createDataFrame(
        emb.repartition(1).rdd.mapPartitions { it =>
          if (DataxSpec.crashGate.incrementAndGet() >= 1)
            throw new RuntimeException("injected crash in staged row write")
          it
        }, emb.schema)
      // eager checkpoint: the write face overwrites the very files this
      // frame would lazily re-read
      val centroids = spark.read.parquet(
          Similarity.sidecarOf(spark, dir, "centroids.parquet"))
        .localCheckpoint(eager = true)
      val ex = intercept[Throwable] {
        Similarity.ivfIndexWriteWith(crashy, dir, centroids)
      }
      val chain = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(chain.contains("injected crash in staged row write"),
        s"got:\n$chain")
      // the crash hit BEFORE the point of no return: the staging (rows
      // + geometry, no token yet) is debris; the final table is the
      // PRIOR build, whole — serving view, quality record, and
      // increment visibility all unchanged
      assert(exists("assigned.parquet.staging"), "crash debris remains")
      assert(exists("assigned.parquet"), "the prior table is untouched")
      assert(probe(dir) == preCrash,
        "the serving view must be the pre-crash one")
      assert(Similarity.ivfIndexStaleness(spark, dir) == preStaleness,
        "built_n must still be the prior build's — the round-19 " +
          "meta-rollback staleness skew is gone (meta commits with the " +
          "rows it describes)")
      // heal (any maintenance poll): the tokenless staging is
      // discarded; the increment batch was never consumed, so it stays
      val m = Similarity.ivfIndexMaintain(spark, dir, emb,
        maxStaleness = 1e9, maxSkew = 1e9)
      assert(!m.rebuilt)
      assert(!exists("assigned.parquet.staging"),
        "heal discards the tokenless staging")
      assert(exists("assigned_inc.parquet/batch=0"),
        "an unconsumed increment batch must survive the heal")
      assert(probe(dir) == preCrash, "healing changes no probe row")
      // the retry completes: ONE rename commits rows + geometry + meta
      // + consumed token together, and the increment batch is absorbed.
      // The corpus frame is instrumented with a partition-traversal
      // counter: the build must traverse it EXACTLY ONCE (the staged
      // row write) — the round-20 contract that built_n is observed on
      // that write, not re-counted by a second full pass
      DataxSpec.crashGate.set(0)
      val counted = spark.createDataFrame(
        emb.repartition(1).rdd.mapPartitions { it =>
          DataxSpec.crashGate.incrementAndGet()
          it
        }, emb.schema)
      Similarity.ivfIndexWriteWith(counted, dir, centroids)
      assert(DataxSpec.crashGate.get() == 1,
        s"the corpus must be traversed exactly once per build, " +
          s"saw ${DataxSpec.crashGate.get()} traversals")
      // built_n still records the full corpus row count — the observed
      // count is the same number the retired second pass produced
      assert(spark.read.parquet(
          Similarity.sidecarOf(spark, dir, "build_meta.parquet"))
        .select("built_n").head().getLong(0) == emb.count(),
        "built_n == corpus rows, via the observed row write")
      assert(exists("assigned.parquet/_inc_consumed_upto"),
        "the consumed token rides the rename")
      assert(exists("assigned.parquet/_graft/centroids.parquet") &&
             exists("assigned.parquet/_graft/build_meta.parquet"),
        "geometry and meta ride inside the committed table")
      assert(Similarity.ivfIndexStaleness(spark, dir) == Some(0.0))
      Similarity.ivfIndexWriteWith(emb, clean, centroids)
      assert(probe(dir) == probe(clean),
        "absorbed increment rows must be invisible to probes")
    } finally Seq(dir, clean).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }


  test("rebuild crash during the staged GEOMETRY write (round 20): new " +
       "geometry can never sit over the old row table — the staged rows " +
       "and geometry roll back together, bucket-vs-centroid pairing " +
       "stays the prior build's") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 2 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-geomwin").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def exists(name: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$name"))
    try {
      // the prior build: a 16-bucket quantizer over half the corpus
      Similarity.ivfIndexWrite(base, dir, nCentroids = 16)
      val queries = emb.filter($"vec_id" < 8)
      def probe() = Similarity.ivfTopKIndexed(spark, dir, queries,
        k = 5, nProbe = 4).orderBy("query_id", "rank").collect().toSeq
      val preCrash = probe()
      // a DIFFERENT quantizer (32 buckets over the full corpus), staged
      // but never committed. Under the round-19 protocol the geometry
      // write preceded the commit as a SIBLING overwrite — a crash
      // there left the NEW 32-bucket quantizer over the OLD 16-bucket
      // row table, probes silently mispaired. Under the one-rename
      // commit (and round 20's single-evaluation build, which collects
      // the quantizer to the driver before any write) geometry only
      // ever exists INSIDE the staging dir until the rename — the
      // worst reachable crash state is a staging holding the full new
      // build (rows + 32-bucket geometry + meta) MINUS the token, the
      // staging-complete mark. Reconstruct that state exactly: build
      // the 32-bucket index in a scratch dir, transplant its committed
      // table as this index's staging, strip the token
      val scratch = java.nio.file.Files
        .createTempDirectory("graft-geomscratch").toString
      Similarity.ivfIndexWrite(emb, scratch, nCentroids = 32)
      assert(fs.rename(
        new org.apache.hadoop.fs.Path(s"$scratch/assigned.parquet"),
        new org.apache.hadoop.fs.Path(s"$dir/assigned.parquet.staging")),
        "transplanting the crashed staging failed")
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"$dir/assigned.parquet.staging/_inc_consumed_upto"), false),
        "stripping the staging-complete token failed")
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      assert(exists("assigned.parquet.staging"), "crash debris remains")
      // the pairing invariant: the served quantizer still has 16 rows
      // and the probe view is byte-identical to the pre-crash build
      assert(spark.read.parquet(
          Similarity.sidecarOf(spark, dir, "centroids.parquet")).count()
        == 16L, "the served quantizer must be the PRIOR build's")
      assert(probe() == preCrash,
        "geometry and rows must roll back together — never mixed")
      // heal discards the tokenless staging; the view is unchanged
      assert(!Similarity.ivfIndexMaintain(spark, dir, emb,
        maxStaleness = 1e9, maxSkew = 1e9).rebuilt)
      assert(!exists("assigned.parquet.staging"))
      assert(probe() == preCrash, "healing changes no probe row")
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("an index with sidecars outside its row table (the layout " +
       "before in-table sidecars) is rejected by every face with one " +
       "named error and left untouched") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def p(name: String) = new org.apache.hadoop.fs.Path(s"$dir/$name")
    def listing(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.map { f =>
        val a = java.nio.file.Files.readAttributes(f,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        s"${root.relativize(f)} ${a.size} ${a.lastModifiedTime}"
      }.toSeq.sorted finally walk.close()
    }
    try {
      // reconstruct the old layout exactly: build fresh, then move the
      // in-table sidecars out to the sibling paths they used to occupy
      // (the old layout had no _graft/ dir at all)
      Similarity.pqIndexWrite(emb, dir, nCentroids = 16,
        spec = IndexSpec(encoding = "residual"))
      Seq("centroids.parquet", "pq_codebook.parquet", "build_meta.parquet")
        .foreach { n =>
          assert(fs.rename(p(s"codes.parquet/_graft/$n"), p(n)),
            s"old-layout reconstruction failed for $n")
        }
      assert(fs.delete(p("codes.parquet/_graft"), false),
        "the emptied _graft/ dir must go")
      val before = listing()
      val queries = emb.filter($"vec_id" < 8)
      val shard = emb.withColumn("vec_id", $"vec_id" + 100000L)
      Seq[(String, () => Any)](
        "ivfPqTopK" -> (() => Similarity.ivfPqTopK(spark, dir, queries,
          k = 5, nProbe = 4)),
        "ivfIndexAppendBatch" -> (() =>
          Similarity.ivfIndexAppendBatch(spark, dir, shard, 0L)),
        "ivfIndexMaintain" -> (() => Similarity.ivfIndexMaintain(spark, dir,
          emb.unionByName(shard), maxStaleness = 0.5)),
        "ivfIndexStaleness" -> (() => Similarity.ivfIndexStaleness(spark, dir))
      ).foreach { case (face, call) =>
        val ex = intercept[IllegalArgumentException](call())
        assert(ex.getMessage.contains("outdated index layout") &&
            ex.getMessage.contains("rebuild it with ivfIndexWrite/pqIndexWrite"),
          s"$face got: ${ex.getMessage}")
      }
      assert(listing() == before, "a rejected dir must be left untouched")
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("rename-commit crash windows heal deterministically: a staging " +
       "that never reached its point of no return rolls BACK, one past " +
       "it rolls FORWARD, and a late replay of a consumed batch stays " +
       "invisible (round 19)") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 5 =!= 3)
    val shard = emb.filter($"vec_id" % 5 === 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-rename").toString
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val fin = new org.apache.hadoop.fs.Path(s"$dir/assigned.parquet")
    val staging = new org.apache.hadoop.fs.Path(s"$dir/assigned.parquet.staging")
    val queries = emb.filter($"vec_id" < 8)
    def probe() = Similarity.ivfTopKIndexed(spark, dir, queries,
      k = 5, nProbe = 4).orderBy("query_id", "rank").collect().toSeq
    try {
      Similarity.ivfIndexWrite(emb, dir, nCentroids = 16)
      val committed = probe()
      // window: crash BETWEEN staging completion and the old-table
      // delete — the rebuild never reached its point of no return, so
      // heal discards the staging (the prior build stays authoritative)
      org.apache.hadoop.fs.FileUtil.copy(fs, fin, fs, staging, false, conf)
      assert(Similarity.ivfIndexSkew(spark, dir).nonEmpty) // readers inert to staging
      assert(!Similarity.ivfIndexMaintain(spark, dir, emb,
        maxStaleness = 1e9, maxSkew = 1e9).rebuilt)
      assert(!fs.exists(staging), "an uncommitted staging rolls back")
      assert(fs.exists(fin) && probe() == committed)
      // window: crash BETWEEN the rename-aside and the commit rename —
      // the final table is missing (parked whole at .old) and the
      // staging is complete (token inside): heal finishes the rename
      // and sweeps the .old garbage
      val oldP = new org.apache.hadoop.fs.Path(s"$dir/assigned.parquet.old")
      org.apache.hadoop.fs.FileUtil.copy(fs, fin, fs, oldP, false, conf)
      assert(fs.rename(fin, staging)) // simulates exactly that state
      Similarity.ivfIndexMaintain(spark, dir, emb,
        maxStaleness = 1e9, maxSkew = 1e9)
      assert(fs.exists(fin) && !fs.exists(staging),
        "a committed staging rolls forward")
      assert(!fs.exists(oldP), "heal sweeps the parked old table")
      assert(probe() == committed, "roll-forward restores the exact build")
      // an incomplete staging (torn/no token) with a missing final
      // table must NOT roll forward — it is discarded
      org.apache.hadoop.fs.FileUtil.copy(fs, fin, fs, staging, false, conf)
      fs.delete(new org.apache.hadoop.fs.Path(staging,
        "_inc_consumed_upto"), false)
      val fs2 = fs // readability
      fs2.delete(fin, true)
      intercept[Exception] { // no row table at all now — loud, not wrong
        Similarity.ivfIndexMaintain(spark, dir, emb,
          maxStaleness = 1e9, maxSkew = 1e9)
      }
      assert(!fs.exists(staging), "a tokenless staging is discarded")
      // restore a real index, then pin the LATE-REPLAY rule: a rebuild
      // that consumed batch 0 makes a post-clear replay of batch 0
      // invisible (its rows are already in the base)
      Similarity.ivfIndexWrite(base, dir, nCentroids = 16)
      Similarity.ivfIndexAppendBatch(spark, dir, shard, 0L)
      Similarity.ivfIndexWrite(emb, dir, nCentroids = 16) // consumes batch 0
      val afterRebuild = probe()
      Similarity.ivfIndexAppendBatch(spark, dir, shard, 0L) // the late replay
      assert(probe() == afterRebuild,
        "a replayed consumed batch must not double-count")
      assert(Similarity.ivfIndexStaleness(spark, dir) == Some(0.0),
        "consumed replays are invisible to staleness too")
      // and the next maintenance physically drops it
      assert(!Similarity.ivfIndexMaintain(spark, dir, emb,
        maxStaleness = 1e9, maxSkew = 1e9).rebuilt)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
          s"$dir/assigned_inc.parquet/batch=0")),
        "heal drops the replayed consumed batch")
      // a FRESH batch id above the consumed cutoff stays visible
      Similarity.ivfIndexAppendBatch(spark, dir, shard, 1L)
      assert(Similarity.ivfIndexStaleness(spark, dir).exists(_ > 0.0),
        "batches above the consumed cutoff serve normally")
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  // ---- served build geometry: resolved once per committed build, so
  // each spec probes FIRST (the geometry is then cached) and changes the
  // index after ----

  private def withTempDirs(prefixes: String*)(body: Seq[String] => Unit): Unit = {
    val dirs = prefixes.map(p => java.nio.file.Files.createTempDirectory(p).toString)
    try body(dirs) finally dirs.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  /** 600 seeded gaussian 64-dim vectors in the embeddings-table shape:
    * no cluster structure, so two quantizers probe different candidate
    * sets and every bucket holds rows of any residue class. */
  private lazy val geoEmb = {
    val rnd = new scala.util.Random(11)
    (1L to 600L).map(id => (id, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  /** `probe` over both query frame shapes a served probe takes: the
    * rows as a local relation (probes built on the driver) and behind a
    * repartition (probes ranked in Spark and checkpointed). The two
    * answers must be equal; returns it. */
  private def probeBothShapes(queries: org.apache.spark.sql.DataFrame)
                             (probe: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Seq[Row] = {
    val local = spark.createDataFrame(
      java.util.Arrays.asList(queries.collect(): _*), queries.schema)
    def run(q: org.apache.spark.sql.DataFrame) =
      probe(q).orderBy("query_id", "rank").collect().toSeq
    val onDriver = run(local)
    assert(run(local.repartition(2)) == onDriver,
      "a local and a distributed query frame must probe the same rows")
    onDriver
  }

  private def probePq(d: String, queries: org.apache.spark.sql.DataFrame): Seq[Row] =
    probeBothShapes(queries)(Similarity.ivfPqTopK(spark, d, _, k = 5, nProbe = 4))

  private def probeIvf(d: String, queries: org.apache.spark.sql.DataFrame): Seq[Row] =
    probeBothShapes(queries)(Similarity.ivfTopKIndexed(spark, d, _, k = 5, nProbe = 4))

  test("served geometry: an in-place PQ rebuild (raw -> residual, then a new codebook via pqIndexWriteWith) is seen by the next probe") {
    val emb = geoEmb
    val queries = emb.filter($"vec_id" < 8)
    withTempDirs("graft-geo", "graft-geo-res", "graft-geo-with") { case Seq(dir, freshRes, freshWith) =>
      Similarity.pqIndexWrite(emb, dir, nCentroids = 16)
      val raw = probePq(dir, queries)
      assert(probePq(dir, queries) == raw, "a repeated probe of one build is stable")
      Similarity.pqIndexWrite(emb, dir, nCentroids = 16,
        spec = IndexSpec(encoding = "residual"))
      Similarity.pqIndexWrite(emb, freshRes, nCentroids = 16,
        spec = IndexSpec(encoding = "residual"))
      val residual = probePq(dir, queries)
      assert(residual == probePq(freshRes, queries),
        "the probe after a rebuild in place must equal a fresh dir's")
      assert(residual != raw, "raw and residual codes must score differently here")
      val centroids = Similarity.ivfIndex(emb, nCentroids = 8)._1
      val book = Similarity.pqCentroids(emb, m = 4, ksub = 8)
      Similarity.pqIndexWriteWith(emb, dir, centroids, book)
      Similarity.pqIndexWriteWith(emb, freshWith, centroids, book)
      val rebuilt = probePq(dir, queries)
      assert(rebuilt == probePq(freshWith, queries),
        "a new quantizer + codebook must be served by the next probe")
      assert(rebuilt != residual)
    }
  }

  test("served geometry: ivfIndexAppendBatch rows are served by the next probe with no rebuild (ivfPqTopK and ivfTopKIndexed)") {
    val emb = geoEmb
    val base = emb.filter($"vec_id" % 5 =!= 3)
    val shard = emb.filter($"vec_id" % 5 === 3)
    val shardIds = shard.select("vec_id").as[Long].collect().toSet
    val queries = emb.filter($"vec_id" < 16)
    def served(rows: Seq[Row]) = rows.exists(r => shardIds(r.getAs[Long]("id")))
    withTempDirs("graft-geo-pq", "graft-geo-pqc", "graft-geo-ivf", "graft-geo-ivfc") {
      case Seq(pq, pqCold, ivf, ivfCold) =>
        Seq(pq, pqCold).foreach(Similarity.pqIndexWrite(base, _, nCentroids = 16))
        Seq(ivf, ivfCold).foreach(Similarity.ivfIndexWrite(base, _, nCentroids = 16))
        val (pqBefore, ivfBefore) = (probePq(pq, queries), probeIvf(ivf, queries))
        assert(!served(pqBefore) && !served(ivfBefore))
        Seq(pq, pqCold, ivf, ivfCold).foreach(Similarity.ivfIndexAppendBatch(spark, _, shard, 0L))
        val pqAfter = probePq(pq, queries)
        assert(served(pqAfter), "appended rows must reach the warm PQ probe")
        assert(pqAfter == probePq(pqCold, queries))
        val ivfAfter = probeIvf(ivf, queries)
        assert(served(ivfAfter), "appended rows must reach the warm IVF probe")
        assert(ivfAfter == probeIvf(ivfCold, queries))
    }
  }

  test("served geometry: a build_meta with no residual row raises the named error on every probe of a warm index") {
    val emb = geoEmb
    val queries = emb.filter($"vec_id" < 8)
    withTempDirs("graft-geo-meta") { case Seq(dir) =>
      Similarity.pqIndexWrite(emb, dir, nCentroids = 16,
        spec = IndexSpec(encoding = "residual"))
      val good = probePq(dir, queries)
      Seq.empty[(Long, Int, Int, Boolean)]
        .toDF("built_n", "m", "ksub", "residual")
        .write.mode("overwrite").parquet(
          Similarity.sidecarOf(spark, dir, "build_meta.parquet"))
      (1 to 2).foreach { i =>
        val ex = intercept[IllegalStateException](probePq(dir, queries))
        assert(ex.getMessage.contains("no residual flag row"), s"probe $i got: ${ex.getMessage}")
      }
      // a rebuild heals the meta and serves the same build again
      Similarity.pqIndexWrite(emb, dir, nCentroids = 16,
        spec = IndexSpec(encoding = "residual"))
      assert(probePq(dir, queries) == good)
    }
  }

  test("served geometry (ivfTopKIndexed): an in-place rebuild is seen by the next probe; a missing quantizer raises on every probe") {
    val emb = geoEmb
    val queries = emb.filter($"vec_id" < 8)
    withTempDirs("graft-geo-ivfr", "graft-geo-ivff") { case Seq(dir, fresh) =>
      Similarity.ivfIndexWrite(emb, dir, nCentroids = 16)
      val first = probeIvf(dir, queries)
      Similarity.ivfIndexWrite(emb, dir, nCentroids = 8,
        spec = IndexSpec(kmeansIterations = 2))
      Similarity.ivfIndexWrite(emb, fresh, nCentroids = 8,
        spec = IndexSpec(kmeansIterations = 2))
      val rebuilt = probeIvf(dir, queries)
      assert(rebuilt == probeIvf(fresh, queries),
        "the probe after a rebuild in place must equal a fresh dir's")
      assert(rebuilt != first, "the two quantizers must probe differently here")
      // the quantizer moved aside: the named missing-path error on every
      // probe; moved back (same files): the same build serves again
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val q = new org.apache.hadoop.fs.Path(
        Similarity.sidecarOf(spark, dir, "centroids.parquet"))
      val aside = new org.apache.hadoop.fs.Path(s"$dir/centroids.aside")
      assert(fs.rename(q, aside))
      (1 to 2).foreach { i =>
        val ex = intercept[org.apache.spark.sql.AnalysisException](probeIvf(dir, queries))
        assert(ex.getMessage.contains("centroids.parquet"), s"probe $i got: ${ex.getMessage}")
      }
      assert(fs.rename(aside, q))
      assert(probeIvf(dir, queries) == rebuilt)
    }
  }
}

object DataxSpec {
  /** Traversal counter for the crash-injection fixture above: static so
    * executor-side closures reach it without capture (local[32] — one
    * JVM). */
  val crashGate = new java.util.concurrent.atomic.AtomicInteger(0)
}
