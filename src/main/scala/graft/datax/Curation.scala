package graft.datax

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for a large-scale training-data pipeline:
  * boilerplate removal, language-model scoring, stratified balancing,
  * sequence packing, and source-mixture weighting. These are the steps
  * that sit BETWEEN dedup (Dedup.scala) and training — the C4/Gopher/
  * DoReMi family of corpus transforms.
  *
  * Oracle-parity rules (hash compare is exact): integer arithmetic until
  * the final division; float sums fold a SORTED list sequentially from a
  * 0.0 seed (same order, same doubles in both engines); sampling uses
  * md5-derived buckets, never rand().
  */
object Curation {

  /** C4-style boilerplate removal, chunk-grained. The reference unit in
    * C4 is a LINE; this corpus is single-line token text, so the unit is
    * a fixed window of `chunkTokens` consecutive whitespace tokens. A
    * chunk that appears (exactly) in >= `minDocs` DISTINCT documents is
    * boilerplate: headers, footers, cookie banners — text shared across
    * pages. Output per doc: total chunks, kept chunks, and the cleaned
    * text (kept chunks re-joined in original order).
    *
    * Scale shape: one explode + one aggregate on chunk text. Boilerplate
    * chunks are by definition the high-frequency keys, which is exactly
    * what two-phase countDistinct partials absorb. The removal join is
    * NOT hinted broadcast: at `minDocs=2` over a web crawl, "chunks
    * appearing twice" is not a small set — AQE picks broadcast-hash at
    * runtime when the materialized set is actually small and falls back
    * to a shuffled join when it isn't. Marking boilerplate with a LEFT
    * join (not anti) lets ONE groupBy(id) pass produce totals, kept
    * counts, and the reassembled text together — the anti-join form
    * needs a second full aggregate over the exploded chunks for totals
    * plus an id-join to stitch them, i.e. one extra shuffle+agg pass
    * over the largest relation in the pipeline.
    */
  def boilerplateChunks(docs: DataFrame, idCol: String, textCol: String,
                        chunkTokens: Int = 3, minDocs: Int = 2): DataFrame = {
    // tokens MATERIALIZED to a column first (the shinglesFromTokens
    // rule; review finding): each slice() inside the transform lambda
    // re-evaluates an INLINE split per chunk element — O(chunks x
    // text-length) per doc; as an attribute the split runs once per row
    val tokenized = docs.select(col(idCol).as("id"),
      TextStats.tokens(col(textCol)).as("_toks"))
    val toks = col("_toks")
    // ceil(n/chunk) without float: (n + chunk-1) / chunk on ints is exact
    // in double for any n <= 2^52, and split() never yields an empty
    // array, so every non-null-text doc has >= 1 chunk. NULL text must
    // be guarded out BEFORE the sequence: size(null) = -1 under the
    // repo's non-ANSI sessions, and sequence(0, -1) runs DESCENDING to
    // [0, -1] — two phantom ""-chunks per null doc (review finding).
    // Chunkers emit NO rows for a null doc (matching the oracle's
    // range-over-NULL), the faithful "no chunks" answer for row-
    // expanding transforms — unlike the per-doc aggregates' carrier-row
    // contract.
    val nChunks = ((size(toks) + (chunkTokens - 1)) / chunkTokens).cast("int")
    val chunks = when(toks.isNotNull, transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(toks, i * chunkTokens + 1, lit(chunkTokens)))))
    val ch = tokenized.select(col("id"),
      posexplode(chunks).as(Seq("pos", "chunk")))
    val bp = ch.groupBy("chunk")
      .agg(countDistinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("chunk"), lit(true).as("is_bp"))
    // collect_list skips the NULLed boilerplate rows, and the (pos,
    // chunk) struct sort restores document order (collect_list order
    // itself is nondeterministic); zero kept chunks -> empty list ->
    // concat_ws "" — same contract as the old coalesce
    ch.join(bp, Seq("chunk"), "left_outer")
      .groupBy("id").agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("is_bp").isNull, 1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(
            when(col("is_bp").isNull, struct(col("pos"), col("chunk"))))),
            x => x.getField("chunk"))).as("cleaned"))
      .select(col("id").as(idCol), col("n_chunks"), col("n_kept"),
        col("cleaned"))
  }

  /** Unigram language-model score per document: corpus token frequencies
    * -> per-token probability -> per-doc mean probability + out-of-vocab
    * rate against the top-`vocabSize` vocabulary. The cheap proxy for
    * perplexity-based quality filtering (CCNet-style): low avg_p / high
    * oov_rate = text unlike the corpus.
    *
    * Float determinism: per-doc sum of probabilities folds the SORTED
    * probability list sequentially from 0.0 — the same additions in the
    * same order as the DuckDB oracle, so the doubles are bit-identical
    * (collect_list order itself is nondeterministic; the sort fixes it).
    *
    * Scale shape: token counts are one map-side-combined aggregate; the
    * vocabulary `orderBy(...).limit(k)` plans as TakeOrderedAndProject
    * (per-partition top-k heaps merged on the driver, NOT a global
    * sort), is tiny, and broadcasts; the per-doc aggregate is one
    * shuffle on doc id. No driver loop — `total` rides along as a
    * 1-row cross join, which Spark plans as a broadcast.
    */
  def unigramLm(docs: DataFrame, idCol: String, textCol: String,
                vocabSize: Int = 20): DataFrame = {
    // the null-carrier row (tokensOrNullRow) keeps a NULL-text doc in
    // the per-doc aggregate — every-doc-has-a-row with no join-back;
    // count(t)/count(p) skip the null token, so such a doc lands at
    // zero counts and NULL (undefined) rates for free
    val tok = docs.select(col(idCol).as("id"),
      explode(TextStats.tokensOrNullRow(col(textCol))).as("t"))
    // vocabulary/probabilities see only REAL tokens — a null token row
    // must not enter the corpus total or compete for the top-k
    val counts = tok.filter(col("t").isNotNull)
      .groupBy("t").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("total"))
    val vocab = counts.orderBy(col("cnt").desc, col("t").asc).limit(vocabSize)
    val probs = vocab.crossJoin(total).select(col("t"),
      (col("cnt").cast("double") / col("total").cast("double")).as("p"))
    val agg = tok.join(broadcast(probs), Seq("t"), "left_outer")
      .groupBy("id").agg(
        count(col("t")).as("n_tokens"),
        count(col("p")).as("n_invocab"),
        aggregate(array_sort(collect_list(col("p"))), lit(0.0), (a, x) => a + x)
          .as("_sum_p"))
    // rates for a token-less doc are UNDEFINED (null), guarded rather
    // than divided: 0/0 is ANSI-mode poison, not a reliable null
    val undef = col("n_tokens") === 0
    agg.select(col("id").as(idCol), col("n_tokens"), col("n_invocab"),
      when(undef, lit(null).cast("double"))
        .otherwise((col("n_tokens") - col("n_invocab")) / col("n_tokens"))
        .as("oov_rate"),
      when(undef, lit(null).cast("double"))
        .otherwise(col("_sum_p") / col("n_tokens")).as("avg_p"))
  }

  /** Stratified balancing sample: deterministically downsample every
    * group to (at most) the size of the SMALLEST group — the "balance
    * the language mix" step. Keep rule: md5-bucket(key) in [0, 10000) <
    * (10000 * cap) div n_group, so expected kept ~= cap per group and
    * membership is stable across runs, executors, and cluster sizes
    * (rand() would reshuffle the corpus every run).
    *
    * 8 md5 hex chars = 32 bits, mod 10000: modulo skew < 0.00003 (the
    * 16-bit variant used for percent splits would skew ~17% at this
    * modulus). Threshold arithmetic stays integer (DIV) — a double
    * rounding could disagree with the oracle's floor at exact-integer
    * quotients. Group counts are one tiny aggregate, broadcast back.
    */
  def stratifiedSample(docs: DataFrame, idCol: String,
                       groupCol: String): DataFrame = {
    val counts = docs.groupBy(col(groupCol).as("g")).agg(count(lit(1)).as("n"))
    val th = counts.crossJoin(counts.agg(min(col("n")).as("cap")))
      .select(col("g"), expr("CAST((10000 * cap) DIV n AS INT)").as("threshold"))
    val bucket = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % 10000).cast("int")
    docs.select(col(idCol).as("id"), col(groupCol).as("g"), bucket.as("bucket"))
      .join(broadcast(th), Seq("g"))
      .select(col("id").as(idCol), col("g").as(groupCol), col("bucket"),
        col("threshold"), (col("bucket") < col("threshold")).as("keep"))
  }

  /** Greedy next-fit sequence packing: place documents (in id order)
    * into fixed-token-budget bins — the training-batch packing step.
    * A doc that would overflow the open bin closes it; a doc larger
    * than the whole budget gets a bin of its own. Output per doc: the
    * shard, the bin index within the shard, and the token offset of the
    * doc inside its bin.
    *
    * Packing is inherently sequential (bin state depends on every prior
    * doc), so it CANNOT be a window/prefix-sum — but it parallelizes
    * perfectly across independent shards. One shuffle (repartition by
    * shard), a sort within partitions, and an O(1)-state streaming pass
    * per partition: no per-shard collect, no driver involvement — this
    * is the rare case where mapPartitions is the right tool (imperative
    * per-partition state the Column algebra can't express). At 100 TB,
    * `shards` scales with the cluster; bins stay budget-sized.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    budget: Int = 128, shards: Int = 32): DataFrame = {
    val ss = docs.sparkSession
    import ss.implicits._
    // NULL text packs as a zero-token doc (not size()'s -1, which
    // corrupted fills; not NULL, which the typed row cannot hold and
    // which would poison the oracle's recursive fold) — both engines
    // agree on the 0
    val base = docs.select(col(idCol).cast("long").as("id"),
      (col(idCol) % shards).cast("int").as("shard"),
      when(col(textCol).isNotNull, size(TextStats.tokens(col(textCol))))
        .otherwise(0).as("n"))
    base.repartition(col("shard"))
      .sortWithinPartitions("shard", "id")
      .as[(Long, Int, Int)]
      .mapPartitions { it =>
        // a partition holds whole shards (hash partitioning on shard),
        // ordered (shard, id); reset the bin state at each shard edge
        var shard = Int.MinValue; var bin = 0; var fill = 0
        it.map { case (id, sh, n) =>
          if (sh != shard) { shard = sh; bin = 0; fill = 0 }
          if (fill > 0 && fill + n > budget) { bin += 1; fill = 0 }
          val off = fill
          fill += n
          (id, sh, bin, off, n)
        }
      }
      .toDF("doc_id", "shard", "bin", "offset", "n_tokens")
  }

  /** Per-source document cap: keep at most `maxPerGroup` docs per source,
    * preferring the highest-quality ones — the "no domain dominates the
    * mix" rule of crawl curation (C4 caps pages per host the same way).
    * Rank = row_number over (quality desc, id asc); output carries the
    * rank and the keep flag so the drop is auditable.
    *
    * Scale shape: quality is scan-side ([[TextStats.qualityScore]] — pure
    * column algebra, no tokens materialized); the window is ONE shuffle
    * on the group key. Hot groups (a group >> task memory) are the window
    * operator's intrinsic skew unit: one mega-host is one window
    * partition. */
  def domainCap(docs: DataFrame, idCol: String, groupCol: String,
                textCol: String, maxPerGroup: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("quality").desc, col(idCol).asc)
    docs.select(col(idCol), col(groupCol),
        TextStats.qualityScore(col(textCol)).as("quality"))
      .withColumn("rank", row_number().over(w))
      .withColumn("keep", col("rank") <= maxPerGroup)
  }

  /** Deterministic corpus shuffle: a reproducible global permutation for
    * training order — every doc gets a shard and a position within that
    * shard, keyed by md5(seed:id). Same seed -> same order on any
    * cluster, any partitioning, any run (rand() gives none of that);
    * changing the seed reshuffles.
    *
    * Scale shape: the md5 key is scan-side; sharding is ONE hash
    * exchange; positions are a within-shard sort (shards are
    * independent, so there is NO global total-order sort — the usual
    * orderBy-everything shuffle-order implementation serializes on a
    * range exchange and a single merge). `nShards` scales with the
    * cluster; readers consume shards in parallel and concatenate in
    * (shard, pos) order. */
  def corpusShuffle(docs: DataFrame, idCol: String, seed: String,
                    nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))
    // first 8 hex chars = 32 bits — the d35-proven portable bucket
    val shard = (conv(substring(col("_key"), 1, 8), 16, 10).cast("long")
      % nShards).cast("int")
    docs.select(col(idCol).as("id"), key.as("_key"))
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("_key").asc, col("id").asc)))
      .select(col("id").as(idCol), col("shard"), col("pos"))
  }

  /** Overlapping fixed-window chunking: split each document's tokens into
    * windows of `windowTokens` every `strideTokens` (stride < window =
    * overlap), plus a final partial window covering the tail — the
    * training-sequence preparation step (RAG indexing uses the same
    * shape). Output per chunk: (id, chunk_id, start, n_tokens, chunk).
    *
    * Chunk starts are i*stride for i in 0..K with K = ceil((n-W)/S) (0
    * when the doc fits one window) — integer arithmetic, no floats. The
    * whole operator is scan-side: tokens -> per-row sequence -> one
    * posexplode; no shuffle at all, so it scales with the scan. */
  def chunkSequences(docs: DataFrame, idCol: String, textCol: String,
                     windowTokens: Int = 16, strideTokens: Int = 8): DataFrame = {
    require(strideTokens >= 1 && windowTokens >= strideTokens,
      s"need 1 <= stride <= window, got stride=$strideTokens window=$windowTokens")
    // tokens MATERIALIZED first — same re-evaluation trap as
    // boilerplateChunks (review finding)
    val tokenized = docs.select(col(idCol),
      TextStats.tokens(col(textCol)).as("_toks"))
    val toks = col("_toks")
    val n = size(toks)
    // Column./ is double division; exact for these magnitudes (d33 note),
    // and cast truncates = floor on non-negatives
    val kMax = when(n > windowTokens,
      ((n - windowTokens + (strideTokens - 1)) / strideTokens).cast("int"))
      .otherwise(0)
    // NULL-text guard (the d33 rule): without it, size(null) = -1 under
    // non-ANSI sessions drove kMax to 0 and emitted one garbage chunk
    // (n_tokens = -1, chunk = "") per null doc; chunkers emit NO rows
    // for a null doc
    val chunks = when(toks.isNotNull, transform(sequence(lit(0), kMax),
      i => struct(
        i.cast("int").as("chunk_id"),
        (i * strideTokens).cast("int").as("start"),
        slice(toks, i * strideTokens + 1, lit(windowTokens)).as("toks"))))
    tokenized.select(col(idCol), explode(chunks).as("_c"))
      .select(col(idCol),
        col("_c.chunk_id"), col("_c.start"),
        size(col("_c.toks")).as("n_tokens"),
        concat_ws(" ", col("_c.toks")).as("chunk"))
  }

  /** Importance weights for data selection (the DSIR shape — Xie et al.,
    * "Data Selection for Language Models via Importance Resampling"):
    * score each document by how much more likely its hashed-ngram
    * features are under a TARGET distribution (docs matching `isTarget`,
    * e.g. a high-quality or in-domain subset) than under the raw corpus.
    * Features are bigrams hashed into `buckets` counting buckets; both
    * distributions get add-1 smoothing. DSIR proper sums LOG ratios;
    * this sums the ratios themselves — same ordering signal, but every
    * arithmetic step (integer counts, one division per side, one
    * division per feature, sorted sequential sum) is IEEE-exact and
    * bit-reproducible in any engine, where log() is libm-dependent and
    * would break the oracle hash compare. Output per doc: feature count,
    * mean likelihood ratio, and `target_like` (mean >= 1).
    *
    * Scale shape: bigram rows come from posexplode + window lead (the
    * d31 pattern — codegen, one shuffle on id); bucket counts for BOTH
    * distributions fall out of ONE aggregate over `buckets` keys
    * (conditional count for the target side) with map-side partials;
    * the bucket->ratio table is `buckets` rows and broadcasts; the
    * per-doc aggregate is one shuffle on id. The sorted-fold sum is
    * per-doc-bounded (d34 note). Nothing here grows with corpus size
    * except the two id-keyed shuffles. */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
                        isTarget: Column, buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the null-carrier row (tokensOrNullRow) keeps a NULL-text doc
    // flowing to the per-doc aggregate like any other
    val toks = docs.select(col(idCol).as("id"), isTarget.as("_tgt"),
      posexplode(TextStats.tokensOrNullRow(col(textCol))).as(Seq("pos", "t")))
    val w = Window.partitionBy("id").orderBy("pos")
    val next = lead(col("t"), 1).over(w)
    // every doc's LAST token row has next = null and rides along as a
    // null-bucket row instead of being filtered: that one extra row per
    // doc is what lets gram-less docs (< 2 tokens, null text) reach the
    // per-doc aggregate WITHOUT a docs ⋈ agg join-back — the join was a
    // third id-width shuffle (the d32/d34 measurement)
    val grams = toks.select(col("id"), col("_tgt"),
      when(next.isNotNull, concat_ws(" ", col("t"), next)).as("g"))
    // the (id, target, bucket) relation feeds BOTH the bucket-count
    // aggregate and the per-doc aggregate — cached so the text scan +
    // window shuffle run once, registered under the shared datax cache
    // lifecycle (release via Dedup.releaseShingleCaches; Bench clears
    // per rep). Rows are (id, bool, int) — far smaller than the text.
    val gb = grams.select(col("id"), col("_tgt"),
      (conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long") % buckets)
        .cast("int").as("b"))
      .cache()
    Dedup.registerCache(gb)
    // raw + target counts in ONE pass over REAL grams (null-bucket
    // carrier rows are not features); totals ride a 1-row cross join
    val cnt = gb.filter(col("b").isNotNull).groupBy("b").agg(
      count(lit(1)).as("cnt_r"),
      count(when(col("_tgt"), lit(1))).as("cnt_t"))
    val tot = cnt.agg(sum("cnt_r").as("total_r"), sum("cnt_t").as("total_t"))
    val ratio = cnt.crossJoin(tot).select(col("b"),
      (((col("cnt_t") + 1).cast("double") / (col("total_t") + buckets).cast("double"))
        / ((col("cnt_r") + 1).cast("double") / (col("total_r") + buckets).cast("double")))
        .as("r"))
    // left_outer: only the null-bucket carrier rows miss (every real
    // bucket is in `ratio` by construction); count(b)/collect_list(r)
    // skip them, landing gram-less docs at zero features
    val agg = gb.join(broadcast(ratio), Seq("b"), "left_outer")
      .groupBy("id").agg(
        count(col("b")).as("n_feats"),
        aggregate(array_sort(collect_list(col("r"))), lit(0.0), (a, x) => a + x)
          .as("_sum_r"))
    agg.select(col("id").as(idCol),
      col("n_feats"),
      when(col("n_feats") === 0, 0.0)
        .otherwise(col("_sum_r") / col("n_feats")).as("avg_ratio"),
      when(col("n_feats") === 0, false)
        .otherwise(col("_sum_r") / col("n_feats") >= 1.0).as("target_like"))
  }

  /** Token-budget corpus selection: walk documents in (quality desc, id)
    * order and keep them until a token budget is exhausted — the "best
    * N tokens" selection step that follows scoring. Output per doc: its
    * token count, the INCLUSIVE running token total at its position in
    * the quality order, and the keep flag (running total <= budget).
    *
    * The running total is a GLOBAL prefix sum — the one window shape
    * that cannot ship as-is at scale (a single ORDER BY window is one
    * partition holding the corpus). This is the two-phase form: bucket
    * docs into `bands` quality bands (band = floor((1-q) * bands),
    * monotone in q, so band order ≡ quality order); per-band token
    * totals (a `bands`-row aggregate) get exclusive prefix offsets via
    * a window over that TINY relation (the legitimate single-partition
    * window — `bands` rows, not corpus rows); the within-band cumsum is
    * a window partitioned by band (parallel across bands); the global
    * prefix is band offset + within-band cumsum. All-integer arithmetic
    * — exact equality with the oracle's naive global window, at any
    * scale. Ties: quality ties stay inside one band and break by id,
    * identical to the global (quality desc, id) order. */
  def tokenBudgetSelect(docs: DataFrame, idCol: String, textCol: String,
                        budgetTokens: Long, bands: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bands >= 1, s"bands=$bands must be >= 1")
    // scored projection feeds BOTH the band-totals aggregate and the
    // final join — cached (3 narrow columns, no text) so the corpus
    // text is scanned once; same shared release lifecycle as d45/dedup
    // n_tokens is NULL (not size's non-ANSI -1 sentinel!) for NULL
    // text, contributing nothing to band totals or cumsums — exactly
    // the naive oracle window, where sum() skips the NULL (review
    // finding: -1 DECREMENTED the running total per null doc)
    val base = docs.select(col(idCol).as("id"),
        TextStats.qualityScore(col(textCol)).as("quality"),
        when(col(textCol).isNotNull,
          size(TextStats.tokens(col(textCol))).cast("long")).as("n_tokens"))
      // NULL-quality (null-text) docs take the SENTINEL band strictly
      // after every real band (review finding:
      // a null band fell out of the equi-join entirely, losing the row,
      // where the documented naive-global-window oracle ranks it LAST
      // under DESC NULLS LAST and still emits it)
      .withColumn("band",
        when(col("quality").isNull, lit(bands + 1))
          .otherwise(((lit(1.0) - col("quality")) * bands).cast("int")))
      .cache()
    Dedup.registerCache(base)
    val bandTot = base.groupBy("band").agg(sum("n_tokens").as("_bt"))
    val offsets = bandTot.select(col("band"),
      coalesce(sum(col("_bt")).over(
          Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)).as("_off"))
    val within = Window.partitionBy("band")
      .orderBy(col("quality").desc, col("id").asc)
    // the coalesce covers the all-NULL sentinel band (sum over nulls is
    // NULL): a null-text doc's cum equals the preceding bands' total,
    // same as the naive window where its frame holds every real doc
    base.join(broadcast(offsets), Seq("band"))
      .select(col("id").as(idCol), col("n_tokens"),
        (col("_off") + coalesce(sum(col("n_tokens")).over(within), lit(0L)))
          .as("cum_tokens"))
      .withColumn("keep", col("cum_tokens") <= budgetTokens)
  }

  /** Source-mixture weights (the DoReMi/domain-reweighting shape): per
    * source, its token share of the corpus and the sampling weight that
    * would flatten the mixture to a uniform token share — weight =
    * target_share / actual_share = total / (n_sources * n_tokens).
    * Token counts stay scan-side (sum of per-doc sizes, no explode);
    * the corpus totals ride a 1-row cross join.
    */
  def mixWeights(docs: DataFrame, sourceCol: String,
                 textCol: String): DataFrame = {
    // the when-guard keeps size()'s non-ANSI -1 for NULL text out of
    // the sum (NULL contributes nothing, like the oracle's len(NULL))
    val per = docs.groupBy(col(sourceCol).as("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(when(col(textCol).isNotNull,
        size(TextStats.tokens(col(textCol))).cast("long"))).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("total"),
      count(lit(1)).as("n_sources"))
    per.crossJoin(tot).select(col("source"), col("n_docs"), col("n_tokens"),
      (col("n_tokens").cast("double") / col("total").cast("double"))
        .as("token_share"),
      (col("total").cast("double")
        / (col("n_sources") * col("n_tokens")).cast("double")).as("weight"))
  }

  /** Snapshot DIFF — the incremental-crawl bookkeeping step: per doc id,
    * whether it was `added`, `removed`, `changed` (normalized-text
    * fingerprints differ), or `unchanged` between two corpus snapshots.
    * Feeding the added+changed slice to [[graft.datax.Dedup.dedupIncrement]]
    * is the standard "process only what moved" loop.
    *
    * Scale shape: each side reduces scan-side to (id, 16-byte digest) —
    * text never rides the join — then ONE full-outer hash join on id.
    * On a lakehouse this maps to table-version diffing; the operator is
    * the engine-level form.
    *
    * PRECONDITION: `idCol` is unique within each snapshot (the defining
    * property of a snapshot keyed by id). Duplicate ids fan out through
    * the full-outer join — m x n rows per id, possibly with CONFLICTING
    * statuses (one text copy matching, another not). The check is not
    * performed here (an extra corpus-sized aggregate per call for an
    * invariant the writer owns); run `exactDupGroups` on the id column —
    * or any count-distinct probe — when ingesting from a source that
    * cannot guarantee it. */
  def snapshotDiff(prev: DataFrame, cur: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    // membership is tested via explicit presence markers, NOT fingerprint
    // nullness: a doc present in both snapshots with NULL text has a NULL
    // fingerprint and must compare as unchanged (null-safe <=>), not as
    // added/removed
    val a = prev.select(col(idCol).as("id"),
      TextStats.fingerprint(col(textCol)).as("_fpa"), lit(true).as("_ina"))
    val b = cur.select(col(idCol).as("id"),
      TextStats.fingerprint(col(textCol)).as("_fpb"), lit(true).as("_inb"))
    a.join(b, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("_ina").isNull, "added")
          .when(col("_inb").isNull, "removed")
          .when(!(col("_fpa") <=> col("_fpb")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Dataset CARD rollup: doc and token counts across EVERY combination
    * of the grouping dims (CUBE — per source, per lang, per pair, and
    * the grand total in one pass), the summary table a corpus release
    * ships with. Token counts stay scan-side; Spark's partial/final
    * HashAggregate handles the 2^dims expansion map-side, one shuffle.
    *
    * Each dim gets a `g_<dim>` GROUPING marker (1 = the dim is
    * aggregated away on this row, 0 = it is a real group key): a CUBE
    * subtotal row carries NULL in the aggregated dims, which is
    * otherwise indistinguishable from a group whose dim value is
    * GENUINELY NULL — docs with NULL lang would silently merge into the
    * per-source subtotal line in the released summary. SQL's GROUPING()
    * exists precisely for this; the marker keys disambiguate without
    * rewriting dim values (a sentinel like 'ALL' could itself collide
    * with real data). */
  def dataCard(docs: DataFrame, textCol: String,
               dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "dataCard needs at least one grouping dim")
    val aggs = count(lit(1)).as("n_docs") +: sum("_nt").as("n_tokens") +:
      dims.map(d => grouping(col(d)).cast("long").as(s"g_$d"))
    docs
      .select(dims.map(col) :+
        TextStats.tokenCountWs(col(textCol)).cast("long").as("_nt"): _*)
      .cube(dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
