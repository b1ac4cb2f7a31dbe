package graft.datax

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication at scale: exact (hash groupBy), MinHash+LSH
  * (shingle rows -> min-agg signatures -> band buckets -> count-verify),
  * SimHash, n-gram Jaccard, and embedding-LSH.
  *
  * Scale design notes:
  *  - exact dedup is one shuffle on the 16-byte digest, with map-side
  *    partial aggregation;
  *  - the text pipelines run as explode + window + aggregate (whole-
  *    stage codegen), NEVER as interpreted array-lambda folds; partial
  *    min/sum aggregation means one row per doc enters each shuffle;
  *  - candidate pairs travel as bare (id_a, id_b); Jaccard verification
  *    is a count over shared-shingle rows restricted to bucket
  *    collisions — wide arrays never ride a shuffle (the n-gram Jaccard
  *    self-join below IS the full shared-shingle pair space; it exists
  *    as the exact baseline/verifier);
  *  - the MinHash hash is md5 with lexicographic-min over hex strings
  *    (a valid uniform permutation family, portable to any SQL oracle —
  *    the driver's DuckDB check replays the whole pipeline); xxhash64
  *    variants (SimHash, hyperplane LSH) trade portability for speed.
  */
object Dedup {

  /** Session-scoped registry of live shingle caches ([[docShingleRows]]
    * results). The pair-returning APIs (minhashNearDups, jaccardPairs,
    * contamination*) return LAZY plans whose actions re-read the cache,
    * so the cache must outlive the call — composed pipelines
    * (d05 + d23 + d30 in one session) release them via
    * [[releaseShingleCaches]] once results are materialized. The EAGER
    * operators (dedupCorpus, decontaminate, dupClusters) clean up after
    * themselves (try/finally — error paths included). STRONG references,
    * deliberately: Spark's CacheManager keeps cached data alive until an
    * explicit unpersist REGARDLESS of whether the DataFrame wrapper is
    * reachable, so a weak registry would free nothing — it would only
    * let GC erase the entry and make releaseShingleCaches silently miss
    * the cache (observed under heap pressure). Entries are removed on
    * release; a caller that never releases holds registry entries for
    * the session's life, which is exactly the cached data's life. */
  private val liveShingleCaches: java.util.Set[DataFrame] =
    java.util.Collections.synchronizedSet(
      new java.util.LinkedHashSet[DataFrame]())

  /** Unpersist every shingle cache this object still holds. Safe to call
    * any time: plans re-execute (correctly, slower) after release. */
  def releaseShingleCaches(): Unit = liveShingleCaches.synchronized {
    val it = liveShingleCaches.iterator()
    while (it.hasNext) { it.next().unpersist(); it.remove() }
  }

  /** Register a non-shingle internal cache under the same lifecycle
    * (one release hook for every datax operator's internal cache —
    * [[Similarity.semanticDedup]]'s assignment cache uses this). */
  private[datax] def registerCache(df: DataFrame): Unit =
    liveShingleCaches.add(df)

  /** Unpersist `caches` and drop them from the registry — the precise
    * release of the eager forms, which track what they created. */
  private def releaseCaches(caches: Seq[DataFrame]): Unit = caches.foreach { e =>
    e.unpersist(); liveShingleCaches.remove(e)
  }

  /** Materialize `df` once and cut its lineage so upstream caches can be
    * released. Uses a RELIABLE checkpoint when the session has a
    * checkpoint dir configured (the cluster setting — survives executor
    * loss); falls back to a localCheckpoint otherwise (this harness's
    * single-JVM mode, where executor loss ≡ JVM death anyway). */
  private[graft] def cutLineage(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Distinct word k-shingles from a MATERIALIZED token-array column;
    * empty array when the document has fewer than k tokens (Spark's
    * `sequence(1, n)` is DESCENDING for n<1, so the short-doc case must
    * be guarded, not clamped).
    *
    * `toks` must be a real column (attribute), not an inline
    * `split(...)` expression: every `slice(toks, i, k)` inside the
    * lambda re-evaluates its subtree per element, so an inline split
    * costs O(positions x text-length) per row. */
  private def shinglesFromTokens(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      array_distinct(
        filter(
          transform(sequence(lit(1), size(toks) - (k - 1)),
            i => concat_ws(" ", slice(toks, i, lit(k)))),
          s => s =!= "")))
      .otherwise(array().cast("array<string>"))

  /** Convenience single-expression form (fine for small data / specs;
    * table-scale callers should materialize tokens first). */
  private[graft] def shingles(text: Column, k: Int): Column =
    shinglesFromTokens(TextStats.tokens(text), k)

  /** The distinct (id, shingle) ROWS of each document — the workhorse
    * relation for both LSH and exact Jaccard. Built with posexplode +
    * window `lead` instead of array higher-order functions: HOF lambdas
    * are interpreted expression trees, while explode/window/aggregate
    * stay inside whole-stage codegen — at table scale that is the
    * difference between seconds and minutes. The window shuffles once on
    * id; the per-doc `distinct` reuses that partitioning (no second
    * exchange), as do all downstream per-id aggregations. */
  private def docShingleRows(docs: DataFrame, idCol: String, textCol: String,
                             k: Int, cache: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("id"),
      posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "t")))
    val w = Window.partitionBy("id").orderBy("pos")
    val leads = (1 until k).map(j => lead(col("t"), j).over(w))
    val out = toks.select(col("id"),
        concat_ws(" ", col("t") +: leads: _*).as("s"),
        (if (k > 1) leads.last else col("t")).as("_last"))
      .filter(col("_last").isNotNull && col("s") =!= "")
      .select("id", "s")
      .distinct()
    // single-consumer callers (bandSignatures writing a sidecar) skip
    // the cache entirely
    if (!cache) return out
    // every consumer (signatures, pair join, size counts, verify)
    // re-executes this subtree otherwise — the standard multi-pass-
    // algorithm cache (as MLlib's LSH does); rows are (id, shingle)
    // only, far smaller than the source text. Registered in
    // liveShingleCaches so lifecycle is explicit (see top of file).
    val cached = out.cache()
    liveShingleCaches.add(cached)
    cached
  }

  /** The storable (id, band, bsig) BAND TABLE of a corpus — the index
    * sidecar the incremental-dedup loop keeps alongside the documents
    * (bucketed/partitioned by (band, bsig) on a lakehouse) so an
    * increment never recomputes corpus-side signatures
    * ([[incrementalNearDups]] with `indexBands`). `bands` rows per
    * document, regardless of document size. Uncached: the one consumer
    * is the sidecar write. */
  def bandSignatures(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 4, numHashes: Int = 16,
                     bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    bandedSigs(docShingleRows(docs, idCol, textCol, k, cache = false),
      numHashes, bands)
      // self-describing: band signatures built with different (k,
      // numHashes, bands) NEVER collide, so a parameter mismatch between
      // the stored table and an increment call would silently find zero
      // candidates and let near-dups into the corpus — the consumers
      // fail fast on this column instead
      .withColumn("params", lit(sidecarParams(k, numHashes, bands)))
  }

  private def sidecarParams(k: Int, numHashes: Int, bands: Int): String =
    s"k=$k,h=$numHashes,b=$bands"

  /** What a stored band sidecar must agree with to stand in for the
    * index side of an increment: its bucket-key columns, the params
    * value the call would stamp, the name errors call it by, and —
    * when a sidecar without a params column cannot be trusted — the
    * message rejecting it (None: such a table passes unchecked). */
  private case class BandContract(keys: Seq[String], expect: String,
                                  label: String,
                                  missingParams: Option[String])

  /** Text sidecars ([[bandSignatures]]); a params-less table passes
    * (hand-built). */
  private def textContract(k: Int, numHashes: Int, bands: Int): BandContract =
    BandContract(Seq("band", "bsig"), sidecarParams(k, numHashes, bands),
      "index band table", None)

  /** Vector sidecars ([[embeddingBandSignatures]]). The params column is
    * REQUIRED (round 15): `dim` participates in the bucket contract —
    * the sidecar form can only probe dim from the BATCH, so a
    * params-less sidecar built in a different vector space would
    * silently bucket nothing in common and admit every near-dup. */
  private def embContract(tables: Int, planes: Int, dim: Int): BandContract =
    BandContract(Seq("tbl", "bucket"), embSidecarParams(tables, planes, dim),
      "embedding band sidecar", Some(
        "embedding band sidecar has no `params` column — build it with " +
          "embeddingBandSignatures (dim participates in the bucket " +
          "contract; an unparameterized sidecar cannot be checked against " +
          "the call and a dim drift silently admits near-dups)"))

  /** Whether `ib` carries a params column; a schema check (no Spark
    * job) that rejects a params-less table the contract cannot trust. */
  private def hasParams(ib: DataFrame, c: BandContract): Boolean = {
    val has = ib.columns.contains("params")
    c.missingParams.foreach(msg => require(has, msg))
    has
  }

  /** The (keys..., id) projection of a stored band sidecar, after an
    * EAGER params check. Validates EVERY distinct params value, not a
    * sampled row: a sidecar accumulated across stream restarts with
    * changed parameters holds mixed values, and a one-row probe could
    * match the current call while other partitions mismatch — silently
    * finding zero candidates for those partitions and admitting
    * near-dups, the exact failure this column exists to prevent. The
    * distinct is one partial-aggregated pass over a single string
    * column (a handful of rows in any non-broken sidecar). */
  private def validatedSidecar(ib: DataFrame, c: BandContract): DataFrame = {
    if (hasParams(ib, c)) {
      val got = ib.select("params").distinct().collect().map(_.getString(0))
      val bad = got.filterNot(_ == c.expect)
      require(bad.isEmpty, s"${c.label} holds params " +
        s"[${bad.mkString("; ")}] but the increment call uses [${c.expect}]" +
        (if (got.length > 1) " (mixed-parameter sidecar — likely " +
          "accumulated across restarts with changed settings)" else "") +
        "; rebuild the sidecar or match the parameters")
    }
    ib.select((c.keys :+ "id").map(col): _*)
  }

  /** DATA-PATH twin of [[validatedSidecar]] (round 21, guide §1.2): the
    * same projection with the params check grafted INTO the first key
    * column — any stored row whose params is null or differs from the
    * call's raises at EXECUTION time, with zero extra driver actions
    * (the eager form runs a full sidecar distinct+collect per call —
    * per MICRO-BATCH on the ingest loops, a full sidecar scan at 100 TB
    * scale). Row coverage is the same (the cross band join scans every
    * stored row); the one difference is an EMPTY batch, whose
    * AQE-propagated empty semi join can skip the sidecar scan — an
    * empty batch admits nothing, and the next non-empty batch raises.
    * A params-less table gets the eager form's schema rule. */
  private def guardedSidecar(ib: DataFrame, c: BandContract): DataFrame =
    if (!hasParams(ib, c)) ib.select((c.keys :+ "id").map(col): _*)
    else {
      val key = c.keys.head
      ib.select(
        (when(col("params").isNull || col("params") =!= lit(c.expect),
          raise_error(concat(
            lit(s"[graft-dedup] ${c.label} holds params ["),
            coalesce(col("params"), lit("null")),
            lit(s"] but the increment call uses [${c.expect}] " +
              "(parameter drift, or a mixed-parameter sidecar " +
              "accumulated across restarts with changed settings); " +
              "rebuild the sidecar or match the parameters"))))
          .otherwise(col(key)).as(key) +:
          (c.keys.tail :+ "id").map(col)): _*)
    }

  /** The storable (id, fp) FINGERPRINT TABLE — 16 bytes per document;
    * the exact-duplicate side of the same index sidecar (sub-k docs have
    * no bands, so exact collisions need their own lookup). */
  def fingerprintTable(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      TextStats.fingerprint(col(textCol)).as("fp"))

  /** The i-th MinHash hash of one shingle: seed i/4 prefixes the md5
    * input, and the digest's four 8-hex-char substrings are four
    * independent 32-bit hash values (chunk i%4). Lexicographic min over
    * fixed-width hex ≡ min over the 32-bit integers, and a 32-bit space
    * is ample for per-document shingle counts (collision odds ~n/2^32).
    * One digest feeds FOUR hash functions — 4x less hashing than
    * md5-per-function, with the same DuckDB replayability
    * (substr(md5(...))). */
  private def minhashHash(x: Column, i: Int): Column =
    substring(md5(concat(lit(s"${i / 4}:"), x)), (i % 4) * 8 + 1, 8)

  /** Exact Jaccard over the distinct shingle sets. */
  def jaccard(shA: Column, shB: Column): Column = {
    val inter = size(array_intersect(shA, shB))
    inter / (size(shA) + size(shB) - inter)
  }

  /** Exact duplicate groups by normalized-text digest: representative
    * (min id) + member count; groups of 1 are non-duplicates. */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextStats.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(idCol).as("representative"), count(lit(1)).as("n_docs"))

  /** Set sizes |A| per doc from the shingle-rows relation. */
  private def shingleCounts(exploded: DataFrame): DataFrame =
    exploded.groupBy("id").agg(count(lit(1)).as("n"))

  /** (id, band, bsig) rows from a shingle-rows relation: the signature
    * min-aggregates (map-side partial min, one row per doc into the
    * shuffle) collapsed into per-band digests. THE shared band
    * construction — every minhashNearDups path buckets through it, so
    * their S-curve/replayability claims hold together. */
  private def bandedSigs(exploded: DataFrame, numHashes: Int,
                         bands: Int): DataFrame = {
    val rows = numHashes / bands
    val hashAggs = (0 until numHashes).map(i =>
      min(minhashHash(col("s"), i)).as(s"_h$i"))
    val sigs = exploded.groupBy("id").agg(hashAggs.head, hashAggs.tail: _*)
    val bandSigCols = (0 until bands).map { b =>
      md5(concat_ws(",", (0 until rows).map(r => col(s"_h${b * rows + r}")): _*))
    }
    sigs.select(col("id"),
      posexplode(array(bandSigCols: _*)).as(Seq("band", "bsig")))
  }

  /** Count-based exact Jaccard for a given candidate-pair set: |A∩B| is
    * a codegen'd count over shared-shingle rows, never an
    * array_intersect over wide arrays. `cand` is consumed EXACTLY once —
    * re-referencing it would re-execute its (expensive) producing
    * subtree per reference. `threshold` must be > 0 (pairs with empty
    * intersection don't reach the output). */
  private def verifyJaccard(cand: DataFrame, exploded: DataFrame,
                            threshold: Double): DataFrame =
    verifyJaccardSides(cand, exploded, exploded, threshold)

  /** [[verifyJaccard]] generalized to candidate pairs whose two sides
    * come from DIFFERENT shingle relations (id_a ∈ expA, id_b ∈ expB) —
    * the incremental new-batch-vs-index case. Identical plan shape; the
    * self-join case passes the same relation twice. */
  private def verifyJaccardSides(cand: DataFrame, expA: DataFrame,
                                 expB: DataFrame,
                                 threshold: Double): DataFrame = {
    def sz(e: DataFrame) = shingleCounts(e)
    // Size-ratio prune BEFORE the shared-shingle join: with |A| <= |B|,
    // J(A,B) = |A∩B|/|A∪B| <= |A|/|B|, so a pair whose count ratio falls
    // outside [t, 1/t] provably cannot reach threshold t. The counts are
    // a tiny (one row per doc) broadcast-size relation, and the prune is
    // LOSSLESS — output is bit-identical, the oracle needs no mirror —
    // but the expensive per-shingle join sees only survivors. At 100 TB
    // this is the difference between verifying every LSH collision and
    // verifying only same-scale ones.
    val sized = cand
      .join(sz(expA).select(col("id").as("id_a"), col("n").as("_na")), "id_a")
      .join(sz(expB).select(col("id").as("id_b"), col("n").as("_nb")), "id_b")
      .filter(col("_na") >= col("_nb") * threshold &&
        col("_nb") >= col("_na") * threshold)
    sized
      .join(expA.select(col("id").as("id_a"), col("s").as("s_a")), "id_a")
      .join(expB.select(col("id").as("_idb"), col("s").as("s_b")),
        col("id_b") === col("_idb") && col("s_a") === col("s_b"))
      .groupBy("id_a", "id_b", "_na", "_nb").agg(count(lit(1)).as("_inter"))
      .select(col("id_a"), col("id_b"),
        (col("_inter") / (col("_na") + col("_nb") - col("_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash+LSH near-duplicate pairs, verified with exact Jaccard.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold
    * (> 0).
    *
    * `metricSuffix` (round 16): appended to the occupancy metric name
    * (`graft.lsh.occupancy.minhash.<suffix>`) so two observed calls to
    * the SAME entrypoint can compose inside ONE action — Spark fails
    * duplicate observation names at analysis (the round-15 deterministic
    * names are a documented fail-fast), and the union-of-two-LSH-passes
    * pipeline is exactly the caller that needs to disambiguate. Empty
    * (default) keeps the stable per-entrypoint name a metrics pipeline
    * keys on. Same knob on every entrypoint that can emit the metric. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 4, numHashes: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5,
                      metricSuffix: String = ""): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    require(threshold > 0, "zero-intersection pairs are never emitted")
    val exploded = docShingleRows(docs, idCol, textCol, k)
    // signatures as codegen'd min-aggregates (bandedSigs); the 16 agg
    // inputs share 4 md5 digests (chunk scheme) — hash-aggregate
    // codegen's subexpression elimination computes each digest once
    minhashNearDupsOnBanded(bandedSigs(exploded, numHashes, bands),
      exploded, threshold, metricSuffix)
  }

  /** `base` or `base.suffix` — the observed-metric name rule shared by
    * every entrypoint taking `metricSuffix`. */
  private def tagged(base: String, suffix: String): String =
    if (suffix.isEmpty) base else s"$base.$suffix"

  /** Distinct sorted candidate pairs from (bucket-key..., id) rows: the
    * bucket-GROUPING construction every LSH here shares — collect each
    * bucket's member ids (bounded by bucket size, LSH's intrinsic skew
    * unit), expand to sorted in-bucket (id_a < id_b) pairs, distinct
    * across buckets. Grouping, never a self-join: a self-join would
    * execute the (expensive) signature subtree once per side.
    *
    * `maxOccupancy`: when set, a bucket wider than the bound raises at
    * EXECUTION time (a `raise_error` grafted on the data path, so
    * Catalyst cannot prune it and no extra job runs) — the runtime
    * tripwire for the fixed-parameter LSH scale bug: in-bucket pair
    * expansion is quadratic in occupancy, and parameters sized for one
    * corpus silently blow up at the next (the 10x study's measured
    * ~102x on d10a, SCALE.md). None = unguarded (callers whose load is
    * the answer's own size, e.g. MinHash over a dup-heavy corpus) —
    * but not blind: the unguarded path emits the max observed bucket
    * occupancy (and bucket count) as an `observe()` metric named
    * `graft.lsh.occupancy.<metricTag>`, riding the same bucket
    * aggregate the guard would (no extra job), so a production caller's
    * metrics pipeline sees the candidate load even when no failure is
    * wanted (round-14 telemetry; DataxSpec pins it on a planted hot
    * corpus).
    *
    * Metric names are DETERMINISTIC (round 15): each public entrypoint
    * supplies a stable `metricTag`, so a metrics pipeline keys on the
    * exact name (`graft.lsh.occupancy.minhash`,
    * `.embedding_banded`, ...) instead of prefix-matching a
    * process-global sequence number. Self-joins of one call's output
    * are safe (Spark allows the same CollectMetrics node to recur in a
    * plan — the d21 shape); composing two DIFFERENT opted-out calls to
    * the SAME entrypoint inside ONE action fails at analysis with
    * Spark's duplicate-observed-metrics error — pass distinct
    * `metricSuffix` values on the public entrypoints (round 16; the
    * union-of-two-LSH-passes caller), or split the action / guard one
    * side, rather than silently un-keying the metric. */
  private def bucketCandidatePairs(rows: DataFrame, bucketCols: Seq[String],
                                   maxOccupancy: Option[Int] = None,
                                   metricTag: String = "lsh",
                                   guardHint: String = ""): DataFrame = {
    val buckets = rows.groupBy(bucketCols.map(col): _*)
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val guarded = maxOccupancy match {
      case None =>
        buckets.observe(
          s"graft.lsh.occupancy.$metricTag",
          coalesce(max(size(col("ids"))), lit(0)).as("max_bucket_occupancy"),
          count(lit(1)).as("buckets"))
      case Some(m) => buckets.withColumn("ids",
        when(size(col("ids")) > m, raise_error(concat(
          lit("[graft-dedup] hot LSH bucket: "),
          size(col("ids")).cast("string"),
          lit(s" ids collided in one bucket (maxOccupancy=$m). The " +
            "(tables, planes) parameters are too small for this corpus — " +
            "in-bucket pair expansion is quadratic in occupancy. Derive " +
            "parameters from n (embeddingNearDupsBandedAuto / bandsFor), " +
            "or pass maxOccupancy=None to accept the quadratic cost." +
            (if (guardHint.nonEmpty) s" $guardHint" else "")))))
          .otherwise(col("ids")))
    }
    val pairCombos = flatten(transform(col("ids"), (x, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))),
        y => struct(x.as("id_a"), y.as("id_b")))))
    guarded.select(explode(pairCombos).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Distinct CROSS-SIDE candidate pairs between two (bucket-key..., id)
    * relations — the batch x index twin of [[bucketCandidatePairs]],
    * shared by every incremental band join (text d49/d52, vector d10c).
    * Per-bucket load here is batch-occupancy x index-occupancy, so a
    * fixed-parameter call on a grown index is the d10a-class trap in
    * JOIN form — SCALE.md (round 14, "Incremental embedding dedup at
    * 10x/30x") measured it at 61x wall for 3x data. The construction
    * keeps the index side STREAMING (never shuffled corpus-order):
    *
    *  1. group the batch side by bucket (tiny — batch << corpus);
    *  2. broadcast-semi-join the index rows against the touched bucket
    *     keys (index scans past the broadcast, no index shuffle);
    *  3. group ONLY the touched index rows by bucket (the shuffle is
    *     collision-sized, exactly the load being bounded);
    *  4. join the two per-bucket id arrays and expand.
    *
    * `maxBucketLoad`: when set, a bucket whose batch x index product
    * exceeds the bound raises at EXECUTION time, BEFORE the pair
    * expansion runs (the raise rides the array column the expansion
    * must read). Default callers get `Some(1L << 20)` — the pair count
    * a same-side bucket at [[bucketCandidatePairs]]' default
    * `maxOccupancy = Some(1024)` would produce, so the two guards trip
    * at the same candidate load. None = opted out (auto-derived
    * parameters, pedagogical registry entries), but the max observed
    * product still ships as the deterministic
    * `graft.lsh.occupancy.<metricTag>` observe() metric. */
  private def crossBucketCandidatePairs(aRows: DataFrame, bRows: DataFrame,
                                        bucketCols: Seq[String],
                                        maxBucketLoad: Option[Long],
                                        metricTag: String): DataFrame = {
    val keys = bucketCols.map(col)
    val aB = aRows.groupBy(keys: _*)
      .agg(sort_array(collect_list(col("id"))).as("ids_a"))
    val touched = bRows.join(aB.select(keys: _*), bucketCols, "left_semi")
    val bB = touched.groupBy(keys: _*)
      .agg(sort_array(collect_list(col("id"))).as("ids_b"))
    val joined = bB.join(aB, bucketCols)
    val load = size(col("ids_a")).cast("long") * size(col("ids_b")).cast("long")
    val guarded = maxBucketLoad match {
      case None =>
        joined.observe(s"graft.lsh.occupancy.$metricTag",
          coalesce(max(load), lit(0L)).as("max_bucket_load"),
          count(lit(1)).as("buckets"))
      case Some(m) => joined.withColumn("ids_a",
        when(load > m, raise_error(concat(
          lit("[graft-dedup] hot LSH bucket (batch x index): "),
          size(col("ids_a")).cast("string"), lit(" batch ids x "),
          size(col("ids_b")).cast("string"),
          lit(s" index ids collided in one bucket (maxBucketLoad=$m). " +
            "The (tables, planes) / (numHashes, bands) parameters are " +
            "too small for this index — per-bucket candidate load is the " +
            "PRODUCT of the two occupancies. Derive parameters from the " +
            "INDEX size (bandsFor / the *IncrementalAuto form) and " +
            "rebuild the sidecar, or pass maxBucketLoad=None to accept " +
            "the cost."))))
        .otherwise(col("ids_a")))
    }
    guarded.select(explode(col("ids_a")).as("id_a"), col("ids_b"))
      .select(col("id_a"), explode(col("ids_b")).as("id_b"))
      .distinct()
  }

  /** [[minhashNearDups]] over a PREBUILT banded-signature relation —
    * the shared-signature face (round 21, guide §1.2): the ingest loop
    * computes (and caches) the batch's band signatures ONCE for the
    * within pass, the cross pass and the stored sidecar write, where
    * each consumer used to re-run the 16-min-aggregate shuffle from
    * the shingle cache (and the write face re-tokenized from raw
    * text). */
  private def minhashNearDupsOnBanded(banded: DataFrame, exploded: DataFrame,
                                      threshold: Double,
                                      metricSuffix: String): DataFrame =
    verifyJaccard(bucketCandidatePairs(banded, Seq("band", "bsig"),
        metricTag = tagged("minhash", metricSuffix)),
      exploded, threshold)

  /** End-to-end corpus deduplication — THE training-data pipeline step
    * the pair/cluster operators exist for: detect near-dup pairs
    * ([[minhashNearDups]]), close them into clusters ([[dupClusters]]),
    * keep each cluster's min-id representative, pass singletons through
    * untouched. Returns the surviving rows of `docs` (all columns).
    *
    * Exact duplicates of k tokens or more cluster on their own (identical
    * docs share every shingle), but docs SHORTER than k produce no
    * shingles and are invisible to MinHash — so an explicit
    * fingerprint-level drop (the [[exactDupGroups]] digest) is unioned
    * in. The two rules agree: both keep min ids, and a fingerprint
    * representative dropped by the near-dup rule always leaves a
    * surviving near-dup of its group.
    *
    * Scale shape: the drop list is NOT hinted broadcast — at web-crawl
    * dup rates (30-80%) it is corpus-order ids, and a forced broadcast
    * would OOM every executor at 100 TB. The anti join goes to AQE,
    * which picks broadcast-hash at runtime only when the materialized
    * drop list is actually small; the shuffled left_anti is the honest
    * fallback. The exact rule is one digest shuffle, the d02 plan.
    *
    * Eager: the pair -> cluster step materializes inside, after which
    * every internal cache (the shingle relation, the pair list) is
    * RELEASED — composed pipelines don't accumulate copies, and the
    * returned frame is a cheap (docs ANTI JOIN small-list) plan. */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 4, numHashes: Int = 16, bands: Int = 4,
                  threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    require(threshold > 0, "zero-intersection pairs are never emitted")
    val exploded = docShingleRows(docs, idCol, textCol, k)
    // dupClusters (inside dedupCorpusOnBanded) is eager and its output
    // carries no lineage back to `exploded`, so the shingle cache is
    // dropped right after — try/finally so an error path
    // (non-convergence, task failure) doesn't leak the cache either
    try dedupCorpusOnBanded(docs, exploded,
      bandedSigs(exploded, numHashes, bands), idCol, textCol, threshold)
    finally { exploded.unpersist(); liveShingleCaches.remove(exploded); () }
  }

  /** [[dedupCorpus]] over an already-built shingle relation and its
    * banded signatures — lets [[dedupIncrementShared]] reuse the batch's
    * cached shingles and bands (the round-21 shared-signature face —
    * see [[minhashNearDupsOnBanded]]). The caller owns both caches; the
    * near-dup drop list materializes inside (dupClusters is eager), so
    * releasing them right after this returns is safe. */
  private def dedupCorpusOnBanded(docs: DataFrame, exploded: DataFrame,
                                  banded: DataFrame, idCol: String,
                                  textCol: String,
                                  threshold: Double): DataFrame = {
    val nearDrop =
      dupClusters(minhashNearDupsOnBanded(banded, exploded, threshold, ""))
        .filter(col("id") =!= col("cluster"))
        .select(col("id").as(idCol))
    // window, not groupBy+self-join: re-referencing the (scan + md5)
    // subtree would execute it twice — at corpus scale that is two full
    // text scans for one digest
    val exactDrop = docs
      .select(col(idCol), TextStats.fingerprint(col(textCol)).as("_fp"))
      .withColumn("_rep", min(col(idCol)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("_fp")))
      .filter(col(idCol) =!= col("_rep"))
      .select(col(idCol))
    docs.join(nearDrop.union(exactDrop), Seq(idCol), "left_anti")
  }

  /** Cross-source duplication matrix — the "how much does source A
    * duplicate source B" question that decides which crawl snapshots /
    * dumps are worth ingesting: near-dup pairs ([[minhashNearDups]])
    * rolled up to unordered (source_a <= source_b) pair counts. The
    * diagonal is within-source near-duplication.
    *
    * Scale shape: the pair list is detection OUTPUT (small next to the
    * corpus); the two source lookups are id-keyed joins where AQE
    * broadcasts the pair side, and the final rollup shuffles on the
    * (tiny) source-pair domain. No new corpus-sized work beyond the
    * d05 pipeline itself. Pair counts only — a cross-engine-stable
    * integer; mean jaccard would hash-diverge on summation order. */
  def sourceOverlap(docs: DataFrame, idCol: String, srcCol: String,
                    textCol: String, k: Int = 4, numHashes: Int = 16,
                    bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    val pairs = minhashNearDups(docs, idCol, textCol, k, numHashes, bands,
      threshold)
    val src = docs.select(col(idCol).as("_sid"), col(srcCol).as("_src"))
    pairs
      .join(src.select(col("_sid").as("id_a"), col("_src").as("_sa")), "id_a")
      .join(src.select(col("_sid").as("id_b"), col("_src").as("_sb")), "id_b")
      .select(least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** INCREMENTAL near-duplicate detection: MinHash-LSH pairs between a
    * NEW batch and an EXISTING corpus/index — the operational shape at
    * 100 TB, where a new crawl snapshot is deduplicated against the
    * standing corpus without ever re-pairing the corpus with itself.
    * Returns (id_a = new-batch id, id_b = index id, jaccard >= threshold).
    *
    * Scale shape: both sides reduce to (id, band, bsig) rows via the
    * SAME band construction as [[minhashNearDups]]; the candidate join
    * is new-bands × index-bands on (band, bsig), where AQE broadcasts
    * the batch side when it is small (the normal case: batch ≪ corpus).
    * Verification is the count-based exact Jaccard with the lossless
    * size-ratio prune, across the two shingle relations. Within-batch
    * duplicates are [[dedupCorpus]]'s job — see [[dedupIncrement]] for
    * the composed step.
    *
    * `indexBands`: the index's PRECOMPUTED band table
    * ([[bandSignatures]], stored alongside the corpus) — the
    * steady-state increment. Corpus-side signatures are then never
    * recomputed, and corpus-side shingles are rebuilt only for the
    * (candidate-sized) slice of index documents that actually collided
    * with the batch: per increment the corpus-sized work drops from
    * tokenize + window + 16 min-aggregates over every index document to
    * one band join (batch side broadcast) plus a semi-join text fetch
    * of the touched docs. Output ≡ the `None` form with the same
    * parameters (DataxSpec pins the equality). The table's params
    * column is checked against the call up front (one distinct+collect:
    * a mismatch, or a mixed-parameter table, fails fast — signatures
    * built with different parameters never collide, so a silent
    * mismatch would admit near-dups); a table without the column
    * passes (hand-built).
    *
    * `maxBucketLoad` (round 15): the per-bucket batch x index product
    * bound — the two-sided form of the [[bucketCandidatePairs]]
    * occupancy tripwire, default ON at the same effective candidate
    * load (2^20 pairs/bucket). Parameters sized for one index silently
    * blow up as it grows (per-bucket load is the occupancy PRODUCT —
    * SCALE.md measured the vector twin at 61x wall for 3x data);
    * `None` opts out and emits the max product as the
    * `graft.lsh.occupancy.inc_text` (with `indexBands`:
    * `.inc_text_prebanded`) observe() metric instead. */
  def incrementalNearDups(newDocs: DataFrame, index: DataFrame,
                          idCol: String, textCol: String, k: Int = 4,
                          numHashes: Int = 16, bands: Int = 4,
                          threshold: Double = 0.5,
                          maxBucketLoad: Option[Long] = Some(1L << 20),
                          metricSuffix: String = "",
                          indexBands: Option[DataFrame] = None): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    require(threshold > 0, "zero-intersection pairs are never emitted")
    val ne = docShingleRows(newDocs, idCol, textCol, k)
    val ibCols = indexBands.map(validatedSidecar(_,
      textContract(k, numHashes, bands)))
    crossPairs(ne, bandedSigs(ne, numHashes, bands), index, ibCols, idCol,
      textCol, k, numHashes, bands, threshold, maxBucketLoad,
      metricSuffix)._1
  }

  /** The batch x index pass behind [[incrementalNearDups]] (lazy,
    * registry-released) and [[dedupIncrementShared]] (eager, tracked),
    * over the batch's shingle relation `ne` and its band rows
    * `neBanded`. Without `ibCols` the index side is shingled and banded
    * here; with it — a stored sidecar's (band, bsig, id) rows, already
    * checked by the caller — only the collided index docs are
    * re-shingled. Returns the verified pairs plus the caches this call
    * created so eager callers can release them precisely. */
  private def crossPairs(ne: DataFrame, neBanded: DataFrame, index: DataFrame,
                         ibCols: Option[DataFrame], idCol: String,
                         textCol: String, k: Int, numHashes: Int,
                         bands: Int, threshold: Double,
                         maxBucketLoad: Option[Long],
                         metricSuffix: String): (DataFrame, Seq[DataFrame]) =
    ibCols match {
      case None =>
        val ie = docShingleRows(index, idCol, textCol, k)
        val cand = crossBucketCandidatePairs(
          neBanded, bandedSigs(ie, numHashes, bands),
          Seq("band", "bsig"), maxBucketLoad,
          metricTag = tagged("inc_text", metricSuffix))
        (verifyJaccardSides(cand, ne, ie, threshold), Seq(ie))
      case Some(ib) =>
        val cand = crossBucketCandidatePairs(
          neBanded, ib,
          Seq("band", "bsig"), maxBucketLoad,
          metricTag = tagged("inc_text_prebanded", metricSuffix))
          // consumed three times below (verify join x2 + size join);
          // tiny (collision pairs), and caching prevents re-running the
          // band join
          .cache()
        registerCache(cand)
        // re-shingle ONLY the index docs that collided — candidate-sized
        val touched = index.join(cand.select(col("id_b").as(idCol)).distinct(),
          Seq(idCol), "left_semi")
        val ie = docShingleRows(touched, idCol, textCol, k)
        (verifyJaccardSides(cand, ne, ie, threshold), Seq(cand, ie))
    }

  /** End-to-end INCREMENTAL dedup: the new-batch rows that survive both
    * (a) near-dup / exact-fingerprint dedup WITHIN the batch
    * ([[dedupCorpus]] on the batch alone — the standing corpus is
    * already deduplicated, by induction) and (b) near-dup or
    * exact-fingerprint collision AGAINST the index
    * ([[incrementalNearDups]] + a digest semi join for sub-k docs that
    * are invisible to MinHash). Append the result to the corpus and the
    * invariant "no two near-dup docs in the corpus" is maintained
    * without ever re-pairing corpus×corpus.
    *
    * Eager like [[dedupCorpus]]: the cross-match id list materializes
    * inside and every shingle cache is released before returning; the
    * returned plan is batch ANTI JOIN small-list with no forced
    * broadcast (AQE decides from the list's real size).
    *
    * `maxBucketLoad` guards the cross-index band join (see
    * [[incrementalNearDups]]); the within-batch pass carries its own
    * same-side telemetry. Null/empty-text batch rows are handled
    * null-safely (they fingerprint-group together) but NOT reported —
    * compose [[TextStats.validDocuments]] in front of the batch to
    * dead-letter or count them ([[Similarity.validEmbeddings]]'
    * ST3 posture, applied to text). */
  def dedupIncrement(newDocs: DataFrame, index: DataFrame, idCol: String,
                     textCol: String, k: Int = 4, numHashes: Int = 16,
                     bands: Int = 4, threshold: Double = 0.5,
                     indexBands: Option[DataFrame] = None,
                     indexFps: Option[DataFrame] = None,
                     maxBucketLoad: Option[Long] = Some(1L << 20)): DataFrame = {
    // the shared form materializes everything before returning, and the
    // returned plan references no internal cache — releasing right away
    // IS the old eager contract
    val (survivors, _, release) = dedupIncrementShared(newDocs, Some(index),
      idCol, textCol, k, numHashes, bands, threshold, indexBands, indexFps,
      maxBucketLoad)
    release()
    survivors
  }

  /** [[dedupIncrement]] that additionally hands the caller the batch's
    * CACHED band-signature relation (round 21, guide §1.2): the ingest
    * loop's three band consumers — the within pass, the cross pass and
    * the stored sidecar write — share ONE 16-min-aggregate shuffle
    * instead of each re-deriving it (the write face used to
    * re-tokenize the survivors from raw text on top). Returns
    * (survivors, batchBands, release): `batchBands` is
    * (id, band, bsig, params) for EVERY batch doc (filter to survivors
    * for the sidecar write — per-doc signatures are independent of
    * other docs, so the filtered rows are bit-identical to
    * [[bandSignatures]] over the survivors), backed by caches that
    * live until `release()` — the caller MUST call it (once) after its
    * last consumer ran; error paths inside release everything
    * immediately. `index = None` is the FIRST batch (no index yet): the
    * within pass alone, i.e. [[dedupCorpus]] over the shared caches,
    * and `indexBands`/`indexFps` are ignored. The stored-sidecar params
    * check runs on the DATA PATH here ([[guardedSidecar]]) instead of
    * the public form's call-time collect. */
  private[graft] def dedupIncrementShared(newDocs: DataFrame,
                     index: Option[DataFrame],
                     idCol: String, textCol: String, k: Int = 4,
                     numHashes: Int = 16,
                     bands: Int = 4, threshold: Double = 0.5,
                     indexBands: Option[DataFrame] = None,
                     indexFps: Option[DataFrame] = None,
                     maxBucketLoad: Option[Long] = Some(1L << 20)): (DataFrame, DataFrame, () => Unit) = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    require(threshold > 0, "zero-intersection pairs are never emitted")
    // the batch's shingle relation is built ONCE and feeds both the
    // cross-index pass and the within-batch dedup; every cache this call
    // creates is tracked, and released by the returned thunk (or
    // immediately on an error path)
    val created = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def track(df: DataFrame): DataFrame = { created += df; df }
    def releaseAll(): Unit = releaseCaches(created.toSeq)
    var ok = false
    try {
      val ne = track(docShingleRows(newDocs, idCol, textCol, k))
      // the batch band signatures, computed ONCE and cached: consumed by
      // the cross pass, the within pass, and (via the returned frame)
      // the caller's sidecar write
      val neBanded = bandedSigs(ne, numHashes, bands).cache()
      registerCache(neBanded)
      track(neBanded)
      val survivors = index match {
        case None =>
          dedupCorpusOnBanded(newDocs, ne, neBanded, idCol, textCol,
            threshold)
        case Some(ix) =>
          // steady state: a stored band table, when given, replaces
          // corpus-side signature work
          val (crossHits, caches) = crossPairs(ne, neBanded, ix,
            indexBands.map(guardedSidecar(_, textContract(k, numHashes, bands))),
            idCol, textCol, k, numHashes, bands, threshold, maxBucketLoad, "")
          caches.foreach(track)
          // sub-k-token docs produce no shingles: exact-fingerprint
          // collisions against the index catch them (same rule
          // dedupCorpus applies within one table). A digest is 16
          // bytes/doc — the semi join shuffles fingerprints, never
          // text; the stored fingerprint table replaces the index text
          // scan when provided. NULL-SAFE equality: fingerprint(NULL
          // text) is NULL, and the within-batch exact rule (a
          // fp-partitioned window) groups NULLs together — the cross
          // rule must match it, or a redelivered NULL-text doc
          // re-appends forever.
          val fps = indexFps.getOrElse(fingerprintTable(ix, idCol, textCol))
            .select(col("fp").as("_ifp"))
          val exactHit = newDocs
            .select(col(idCol), TextStats.fingerprint(col(textCol)).as("_fp"))
            .join(fps, col("_fp") <=> col("_ifp"), "left_semi")
            .select(col(idCol))
          // BOTH cross-index hit lists inside one lineage cut: the
          // returned plan really is batch ANTI JOIN small-list —
          // re-running an action on it must not repeat the fingerprint
          // semi join (a full index text scan when no indexFps sidecar
          // was provided), and the release in the finally must leave
          // nothing the plan still needs. The cross-index cut and the
          // within-batch dedup (whose near-dup drop list materializes
          // inside dedupCorpusOnBanded — dupClusters is eager) are
          // INDEPENDENT materializations over the shared `ne` shingle
          // cache — run them concurrently (round 12): at fixture scale
          // each is dominated by fixed job latency, at cluster scale the
          // scheduler interleaves them. Concurrent FIRST-touch of the
          // shared batch-sized caches (ne, the persisted batch) can
          // compute a partition twice before the block lands — bounded
          // at 2x a batch-sized scan, the accepted price of
          // unserializing the two materializations. After both complete
          // no internal cache is referenced by the returned plan and the
          // finally can release them all. Forked.awaitAll joins BOTH
          // before surfacing a failure — a fail-fast await would let the
          // finally below drop the shared caches while the sibling's
          // jobs are mid-flight — and keeps the forked jobs inside the
          // caller's job group so they stay cancellable.
          val both = graft.util.Forked.awaitAll[DataFrame](newDocs.sparkSession)(Seq(
            () => cutLineage(
              crossHits.select(col("id_a").as(idCol)).union(exactHit).distinct()),
            () => dedupCorpusOnBanded(newDocs, ne, neBanded, idCol, textCol,
              threshold)))
          val (hit, within) = (both(0), both(1))
          within.join(hit, Seq(idCol), "left_anti")
      }
      val batchBands = neBanded
        .withColumn("params", lit(sidecarParams(k, numHashes, bands)))
      ok = true
      (survivors, batchBands, () => releaseAll())
    } finally { if (!ok) releaseAll() }
  }

  /** LEAKAGE-SAFE train/valid/test split: the d22 hash split keyed by
    * DUPLICATE-GROUP REPRESENTATIVE instead of document id, so no two
    * (near-)duplicate documents can land on opposite sides of a split —
    * the eval-contamination failure a naive per-id split guarantees at
    * real corpus duplication rates (a test doc whose near-twin was
    * trained on scores as memorized). Groups are connected components
    * over the UNION of (a) MinHash near-dup pairs at `threshold` and
    * (b) exact-fingerprint star edges (null-safe window grouping,
    * catching sub-k-token docs invisible to MinHash) — the same two
    * rules [[dedupCorpus]] enforces, but closed TRANSITIVELY ACROSS
    * both edge kinds, because leakage chains (a ≈ b near-dup, b = c
    * exact ⇒ a and c must share a split). Every document WITHOUT a
    * duplicate hashes by its own id — bit-identical to the naive
    * [[TextStats.splitName]] assignment — so the two splits differ
    * exactly on the documents where the naive one is wrong.
    *
    * Scale shape: the pair list is detection OUTPUT (small next to the
    * corpus); fp star edges are one window pass over 16-byte digests;
    * components via [[dupClusters]] (driver union-find under the
    * measured crossover, distributed label propagation above); the
    * final assignment is a left join against the (duplicate-members
    * only) cluster map — AQE broadcasts it — plus a scan-side hash.
    * Output: (idCol, rep, bucket, split). */
  def leakageSafeSplit(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 4, numHashes: Int = 16, bands: Int = 4,
                       threshold: Double = 0.5, trainPct: Int = 80,
                       validPct: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(trainPct > 0 && validPct >= 0 && trainPct + validPct <= 100,
      s"invalid split percentages: train=$trainPct valid=$validPct")
    val near = minhashNearDups(docs, idCol, textCol, k, numHashes, bands,
      threshold).select("id_a", "id_b")
    val fpEdges = docs
      .select(col(idCol).as("id"), TextStats.fingerprint(col(textCol)).as("_fp"))
      .withColumn("_rep", min(col("id")).over(Window.partitionBy("_fp")))
      .filter(col("id") =!= col("_rep"))
      .select(col("_rep").as("id_a"), col("id").as("id_b"))
    val clusters = dupClusters(near.unionByName(fpEdges))
    docs.select(col(idCol))
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("cluster"), col(idCol)).as("rep"))
      .withColumn("bucket", TextStats.splitBucket(col("rep")))
      .withColumn("split", TextStats.splitName(col("rep"), trainPct, validPct))
  }

  /** Duplicate n-gram SPAN removal — the exact-substring dedup shape of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"), at k-token-gram granularity: every k-gram occurring at
    * least `minCount` times across the corpus (within-document repeats
    * included) marks its k token positions as duplicated; marked tokens
    * are removed and each document is re-assembled from the survivors.
    * Returns one row per input document (documents with NULL text
    * produce no tokens and are absent): idCol, `text_clean` (the
    * re-assembled surviving text), `n_tokens`, `n_dropped`.
    *
    * Scale shape: gram rows are built exactly like [[docShingleRows]]
    * (posexplode + window lead — codegen, ONE shuffle on id) but keep
    * their POSITION and are not distinct'd; the duplicate-gram set is
    * one map-side-combined count shuffle; cover expansion is a bounded
    * k-fold explode; re-assembly is one groupBy(id) whose collect_list
    * is bounded by document length (the same per-doc bound the LSH
    * bucket expansion accepts). Token and gram relations are cached —
    * both are consumed twice — and registered for
    * [[releaseShingleCaches]] like every lazy dedup API here. */
  def dupSpanRemoval(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 5, minCount: Long = 2): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(minCount >= 2, s"minCount=$minCount: below 2 every gram is a duplicate")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("id"),
        posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "t")))
      .cache()
    registerCache(toks)
    val w = Window.partitionBy("id").orderBy("pos")
    val leads = (1 until k).map(j => lead(col("t"), j).over(w))
    val grams = toks.select(col("id"), col("pos"),
        md5(concat_ws(" ", col("t") +: leads: _*)).as("g"),
        (if (k > 1) leads.last else col("t")).as("_last"))
      .filter(col("_last").isNotNull)
      .select("id", "pos", "g")
      .cache()
    registerCache(grams)
    val dupg = grams.groupBy("g").agg(count(lit(1)).as("_n"))
      .filter(col("_n") >= minCount).select("g")
    val covered = grams.join(dupg, "g")
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
      .distinct()
    val flagged = toks.join(covered.withColumn("_c", lit(true)),
      Seq("id", "pos"), "left")
    val kept = filter(
      array_sort(collect_list(struct(col("pos"), col("t"),
        coalesce(col("_c"), lit(false)).as("c")))),
      x => !x.getField("c"))
    flagged.groupBy("id").agg(
        concat_ws(" ", transform(kept, x => x.getField("t"))).as("text_clean"),
        count(lit(1)).as("n_tokens"),
        sum(when(coalesce(col("_c"), lit(false)), 1L).otherwise(0L))
          .as("n_dropped"))
      .withColumnRenamed("id", idCol)
  }

  /** Exact n-gram Jaccard pairs via shared-shingle self-join — the
    * exhaustive baseline MinHash approximates. Quadratic in bucket size;
    * use minhashNearDups at scale. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 4, threshold: Double = 0.5): DataFrame = {
    val exploded = docShingleRows(docs, idCol, textCol, k)
    // one shared-shingle self-join: each output row IS one element of
    // A∩B, so |A∩B| falls out of the same join as a codegen'd count —
    // no candidate re-join, no arrays anywhere
    val inter = exploded.as("a").join(exploded.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("_inter"))
    val sz = shingleCounts(exploded)
    inter
      .join(sz.select(col("id").as("id_a"), col("n").as("_na")), "id_a")
      .join(sz.select(col("id").as("id_b"), col("n").as("_nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("_inter") / (col("_na") + col("_nb") - col("_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Benchmark-contamination check: for each `bench` document, the
    * `corpus` documents containing too much of it — containment =
    * |shingles(bench) ∩ shingles(corpus)| / |shingles(bench)| (the
    * asymmetric measure: a giant corpus doc that swallowed a benchmark
    * item has low Jaccard but containment ~1). Same plan shape as
    * [[jaccardPairs]]: a shared-shingle join whose rows ARE the
    * intersection elements, counted codegen-side — no arrays ride the
    * join. At scale, [[contaminationBloomWithin]] prefilters the
    * corpus side losslessly. */
  def contamination(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, k: Int = 4,
                    threshold: Double = 0.5): DataFrame =
    contaminationSides(
      docShingleRows(corpus, idCol, textCol, k),
      docShingleRows(bench, idCol, textCol, k), threshold)

  /** [[contamination]] when benchmark and corpus live in ONE table,
    * split by a predicate on the id — builds (and caches) the shingle
    * relation once instead of scanning the table per side. */
  def contaminationWithin(docs: DataFrame, idCol: String, textCol: String,
                          isBench: Column => Column, k: Int = 4,
                          threshold: Double = 0.5): DataFrame = {
    val sh = docShingleRows(docs, idCol, textCol, k)
    contaminationSides(sh.filter(!isBench(col("id"))),
      sh.filter(isBench(col("id"))), threshold)
  }

  /** [[contaminationWithin]] with a BLOOM prefilter on the corpus side —
    * the scan-side 100 TB path. A bloom sketch of the benchmark's
    * shingle hashes (one aggregate over the SMALL side) is collected and
    * inlined as a literal predicate on the corpus shingle scan — Spark's
    * own runtime-join-filtering shape, via its own
    * `BloomFilterAggregate`/`BloomFilterMightContain` expressions
    * ([[graft.functions.BloomSketch]]).
    *
    * LOSSLESS, unlike an LSH prefilter: a corpus shingle the bloom
    * drops is definitely absent from the benchmark set (no false
    * negatives), so it could never have joined; a false positive merely
    * survives to the exact shared-shingle join and dies there. Output is
    * therefore EXACTLY [[contaminationWithin]]'s — same oracle — while
    * the containment join's corpus input shrinks from "every shingle in
    * the corpus" to "shingles that (probably) appear in the benchmark".
    * Sketch size is bench-proportional (the small side by definition);
    * `bitsPerItem` tunes the FP rate (~20 bits ≈ 0.07% FP). */
  def contaminationBloomWithin(docs: DataFrame, idCol: String, textCol: String,
                               isBench: Column => Column, k: Int = 4,
                               threshold: Double = 0.5,
                               bitsPerItem: Long = 20L): DataFrame = {
    val sh = docShingleRows(docs, idCol, textCol, k)
    val bs = sh.filter(isBench(col("id")))
    val nBench = bs.count()
    if (nBench == 0) {
      // no benchmark shingles -> nothing can be contaminated; keep the
      // output shape without building a degenerate sketch
      return contaminationSides(sh.filter(!isBench(col("id"))).limit(0), bs,
        threshold)
    }
    val numBits = math.max(64L, nBench * bitsPerItem)
    val sketch = bs
      .select(graft.functions.BloomSketch
        .bloomAgg(xxhash64(col("s")), nBench, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val cs = sh.filter(!isBench(col("id")))
      .filter(graft.functions.BloomSketch.mightContain(sketch, xxhash64(col("s"))))
    contaminationSides(cs, bs, threshold)
  }

  /** End-to-end benchmark DECONTAMINATION — the pipeline step the d23
    * scan exists for: drop every corpus document whose containment of
    * any benchmark document reaches `threshold`; benchmark rows are not
    * part of the output (they are held-out eval data, not training
    * corpus). Single-table face, split by `isBench` on the id — builds
    * (and releases) ONE shingle relation for both sides, like
    * [[contaminationWithin]].
    *
    * Eager, like [[dedupCorpus]]: the contaminated-id list materializes
    * inside (localCheckpoint cuts its lineage), the shingle cache is
    * released before returning, and the returned frame is a cheap
    * (corpus ANTI JOIN small-list) plan with NO forced broadcast — AQE
    * picks the join strategy from the list's actual size. At 100 TB,
    * shrink the corpus side as [[contaminationBloomWithin]] does; the
    * drop rule is unchanged. */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    isBench: Column => Column, k: Int = 4,
                    threshold: Double = 0.5): DataFrame = {
    val sh = docShingleRows(docs, idCol, textCol, k)
    val bad =
      try cutLineage(
        contaminationSides(sh.filter(!isBench(col("id"))),
            sh.filter(isBench(col("id"))), threshold)
          .select(col("corpus_id").as(idCol)).distinct())
      finally { sh.unpersist(); liveShingleCaches.remove(sh); () }
    docs.filter(!isBench(col(idCol)))
      .join(bad, Seq(idCol), "left_anti")
  }

  private def contaminationSides(cs: DataFrame, bs: DataFrame,
                                 threshold: Double): DataFrame = {
    val inter = bs.as("b").join(cs.as("c"), col("b.s") === col("c.s"))
      .groupBy(col("b.id").as("bench_id"), col("c.id").as("corpus_id"))
      .agg(count(lit(1)).as("_inter"))
    val bsz = shingleCounts(bs).select(col("id").as("bench_id"), col("n").as("_nb"))
    inter.join(bsz, "bench_id")
      .select(col("bench_id"), col("corpus_id"),
        (col("_inter") / col("_nb")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Near-duplicate CLUSTERS from a pair list: connected components via
    * iterative min-label propagation (each node adopts the smallest
    * label among itself and its neighbors until fixpoint). Returns
    * (id, cluster) where cluster = the smallest doc id in the
    * component — the canonical "keep one representative per near-dup
    * group" step that follows pair detection.
    *
    * Scale: dup components are shallow (diameter a few hops), so the
    * loop converges in O(diameter) joins; each iteration is one shuffle
    * of the (small) pair-graph node set, with a driver-side convergence
    * check. `maxIterations` bounds pathological chains; the method
    * throws rather than return a half-converged clustering.
    *
    * `driverMaxPairs` default is MEASURED, not guessed (SCALE.md
    * "Components crossover: driver union-find vs distributed loop,
    * measured (round 9)"): on dup-shaped graphs the driver
    * union-find costs ~8 s per 1M collected edges while the distributed
    * loop's fixed per-round overhead is ~4-7 s regardless of size —
    * the curves cross at ~0.5M edges. */
  def dupClusters(pairs: DataFrame, maxIterations: Int = 15,
                  driverMaxPairs: Long = 500000L): DataFrame = {
    // cache the pair list BEFORE mirroring: the union's two branches
    // would otherwise each execute the (expensive) pair-producing plan
    val p = pairs.select("id_a", "id_b").cache()
    // ADAPTIVE: the pair graph is the OUTPUT of near-dup detection —
    // normally minuscule next to the corpus. Under `driverMaxPairs`
    // edges, a driver-side union-find (one collect of bare id pairs)
    // replaces the iterative joins: label propagation's per-round
    // plan/compile/job overhead dwarfs the actual work at that size.
    // Bigger graphs take the distributed min-label loop below.
    // ONE bounded action decides AND fetches (round 12; formerly
    // count-then-collect, two actions on the expensive pair pipeline):
    // collect limit+1 rows — short of the limit, these ARE all the
    // edges and the driver path starts immediately; at the limit, fall
    // back. The probe is bounded at driverMaxPairs+1 bare id pairs
    // either way, so the fallback path's wasted fetch stays exactly as
    // large as the driver path was licensed to collect.
    val lim = math.min(driverMaxPairs, Int.MaxValue - 2L).toInt
    val head = p.limit(lim + 1).collect()
    if (head.length <= lim) {
      try return driverComponents(head, p.schema.fields(0).dataType, p.sparkSession)
      finally { p.unpersist(); () }
    }
    // loud, once: the fallback changes the cost model (a shuffle per
    // round instead of one collect), which an operator should be able
    // to see in the logs rather than infer from runtimes
    System.err.println(s"[graft-dedup] pair graph exceeds " +
      s"driverMaxPairs=$driverMaxPairs edges: switching to distributed " +
      "min-label propagation")
    // the limit probe may have materialized only SOME cached partitions
    // (CollectLimit scans incrementally); force the rest now, or the
    // mirror union's two branches would re-execute the expensive
    // pair-producing plan for every cold partition — concurrently, so
    // up to twice (review finding)
    p.count()
    val edges = p.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(p.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct().cache()
    var labels = edges.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("cluster")).cache()
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      // project to (id, cluster) — the cached frame carries _prev too
      val cur = labels.select("id", "cluster")
      val neighborMin = edges
        .join(cur.withColumnRenamed("id", "v"), "v")
        .groupBy(col("u").as("id")).agg(min("cluster").as("_nmin"))
      // previous label rides along so ONE action both materializes the
      // cache and counts the changes (no separate convergence join)
      val next = cur.withColumnRenamed("cluster", "_prev")
        .join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("_prev"), coalesce(col("_nmin"), col("_prev"))).as("cluster"),
          col("_prev"))
        .cache()
      converged = next.filter(col("cluster") =!= col("_prev")).count() == 0
      labels.unpersist()
      labels = next
      i += 1
    }
    if (!converged) {
      labels.unpersist(); edges.unpersist(); p.unpersist()
      throw new IllegalStateException(
        s"label propagation did not converge in $maxIterations iterations")
    }
    // cut lineage so every internal cache can be released: the labels
    // are component ids over the (small) pair-graph node set,
    // materialized once instead of leaving a plan that re-reads the
    // caches we are about to drop
    val out = cutLineage(labels.select("id", "cluster"))
    labels.unpersist(); edges.unpersist(); p.unpersist()
    out
  }

  /** Driver-side union-find over a collected pair list; cluster = the
    * MINIMUM member id (same contract as the distributed loop). Ids may
    * be any Comparable type (long, string, ...). */
  private def driverComponents(rows: Array[Row], idType: org.apache.spark.sql.types.DataType,
                               spark: SparkSession): DataFrame = {
    val parent = new scala.collection.mutable.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(rb) = ra
    }
    val members = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).toSet
    val minOf = new scala.collection.mutable.HashMap[Any, Any]()
    members.foreach { m =>
      val r = find(m)
      val cur = minOf.get(r)
      if (cur.isEmpty ||
          m.asInstanceOf[Comparable[Any]].compareTo(cur.get.asInstanceOf[Any]) < 0)
        minOf(r) = m
    }
    val out = members.toSeq.map(m =>
      org.apache.spark.sql.Row(m, minOf(find(m))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("cluster", idType)))
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  /** 64-bit SimHash over whitespace tokens (xxhash64-based; Spark-native,
    * not SQL-portable — verified by spec, rows-only in the oracle). */
  def simhash64(text: Column): Column = {
    // hash each token ONCE; the 64 per-bit passes are then shift+mask
    // only (hashing per (token, bit) would cost 64x the hashes)
    val hashes = transform(TextStats.tokens(text), t => xxhash64(t))
    // per bit j: sum of (bit_j(hash) ? 1 : -1) over tokens; sign -> bit
    val bitSums = transform(sequence(lit(0), lit(63)), j =>
      aggregate(hashes, lit(0),
        (acc, h) => acc + when(call_function("shiftright", h, j)
          .bitwiseAND(1) === 1, 1).otherwise(-1)))
    aggregate(
      zip_with(bitSums, sequence(lit(0), lit(63)),
        (s, j) => when(s > 0, call_function("shiftleft", lit(1L), j)).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Winnowing document fingerprints (the MOSS scheme): hash every
    * k-gram IN POSITION ORDER (no distinct — position structure is the
    * point), slide a w-wide window over the hash sequence, keep each
    * window's minimum, dedup. Two docs sharing any sufficiently long
    * passage share fingerprints regardless of offset — the
    * guarantee-bearing alternative to MinHash for plagiarism-style
    * substring matching. The 32-bit k-gram hash is an md5-hex chunk
    * (the rolling hash's O(1) incremental update is a sequential-scan
    * trick; columnar evaluation hashes each k-gram independently
    * anyway, portably). Plan: posexplode + window lead (shingle
    * assembly) + min over a w-row frame + distinct — one shuffle on id,
    * everything else inside whole-stage codegen. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("id"),
      posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "t")))
    val byPos = Window.partitionBy("id").orderBy("pos")
    val leads = (1 until k).map(j => lead(col("t"), j).over(byPos))
    // k-gram hash at each position (null once the doc runs out)
    val grams = toks.select(col("id"), col("pos"),
      when((if (k > 1) leads.last else col("t")).isNotNull,
        conv(substring(md5(concat_ws(" ", col("t") +: leads: _*)), 1, 8), 16, 10)
          .cast("long")).as("h"))
    // window minimum over the next w hashes; valid only where the
    // window is FULL (w-th hash exists)
    val frame = byPos.rowsBetween(0, w - 1)
    grams
      .withColumn("_wmin", min(col("h")).over(frame))
      .withColumn("_full", lead(col("h"), w - 1).over(byPos))
      .filter(col("h").isNotNull && col("_full").isNotNull)
      .select(col("id"), col("_wmin").as("fingerprint"))
      .distinct()
  }

  /** Oracle-portable 64-bit SimHash: the per-token hash is md5, with the
    * 64 bits read off the leading 16 hex nibbles (bit j = bit (j%4) of
    * nibble j/4). Explode + 64 codegen'd conditional-sum aggregates
    * (the array fold of [[simhash64]] is interpreted; this stays in
    * whole-stage codegen and partial-aggs map-side, one row per doc into
    * the shuffle), and every step is replayable in DuckDB SQL
    * (strpos-on-hex ≡ conv), so the driver hash-verifies it end-to-end. */
  def simhashTablePortable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = docs.select(col(idCol).as("id"),
      explode(TextStats.tokens(col(textCol))).as("t"))
    // decode the 64 bits as TWO 8-hex-char conv()s per token, not 16
    // per-nibble ones — the bit reads are then shift/mask on a long.
    // Bit j lives at nibble j/4 (hex position i, big-endian within the
    // chunk), bit j%4 within the nibble.
    val chunks = (0 until 2).map(c =>
      conv(substring(md5(col("t")), c * 8 + 1, 8), 16, 10).cast("long").as(s"_c$c"))
    val nib = tokens.select(col("id") +: chunks: _*)
    val bitAggs = (0 until 64).map { j =>
      val i = j / 4 // hex-char position of the nibble, 0-based
      val shift = (7 - i % 8) * 4 + (j % 4)
      sum(when(shiftright(col(s"_c${i / 8}"), shift).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"_b$j")
    }
    val sums = nib.groupBy("id").agg(bitAggs.head, bitAggs.tail: _*)
    val fp = (0 until 64).map(j =>
        when(col(s"_b$j") > 0, shiftleft(lit(1L), j)).otherwise(0L))
      .reduce(_.bitwiseOR(_))
    sums.select(col("id"), fp.as("simhash"))
  }

  /** splitmix64 finalizer — the deterministic PRNG behind the hyperplane
    * signs (public-domain constants, Steele et al., "Fast Splittable
    * Pseudorandom Number Generators"). */
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Embedding-cosine near-duplicate pairs via random-hyperplane LSH:
    * bucket by sign-pattern over `planes` pseudo-random ±1 hyperplanes,
    * verify candidates with exact cosine. Only bucket collisions are
    * verified — never the full pair space. The plane matrix is
    * deterministic (splitmix64 parity) and baked in as LITERALS — it is
    * data-independent, so hashing per (row, plane, dim) at runtime would
    * be pure waste. */
  /** The ±1 hyperplane matrix for [[embeddingNearDups]] — exposed so the
    * oracle SQL can bake the SAME literals into its replay. Table 0 of
    * the seeded family (so the single-table construction is literally
    * the banded one with tables=1). */
  def planeSigns(planes: Int, dim: Int): Array[Array[Double]] =
    planeSignsSeeded(0, planes, dim)

  /** The ±1 plane matrix of one LSH TABLE: `table` shifts the splitmix
    * seed by a golden-ratio odd constant, so each table's planes are an
    * independent pseudo-random draw (table 0 ≡ the legacy
    * [[planeSigns]] matrix, bit-for-bit). */
  def planeSignsSeeded(table: Int, planes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(planes, dim)((p, j) =>
      if ((splitmix64(table.toLong * 0x9E3779B97F4A7C15L
          + p.toLong * 1000003L + j) & 1L) == 1L) 1.0 else -1.0)

  /** The plane-count growth rule: with random data, expected bucket
    * occupancy is n/2^planes, so in-bucket pair expansion (quadratic in
    * occupancy) stays LINEAR in n only if planes rises with log2(n).
    * Returns the smallest plane count keeping expected occupancy at or
    * under `targetOccupancy` (floor 4 — fewer buckets than 16 is never
    * worth the hashing savings). A fixed plane count at growing n is the
    * classic LSH scale bug: 2^4 buckets over 10^9 docs is an all-pairs
    * join in disguise.
    *
    * RECALL WARNING: cost is only half the trade. A pair at angle θ
    * collides in ONE table of r planes with probability (1-θ/π)^r — at
    * r = log2(n/16) and cosine 0.9 that is ~54% at r=4 but ~2% at r=26
    * (n = 10^9). Growing r without growing the number of TABLES
    * silently collapses recall; [[bandsFor]] computes the (tables, r)
    * pair that holds a target recall, and [[embeddingNearDupsBanded]]
    * is the construction that uses it. The single-table
    * [[embeddingNearDups]] is the demo/oracle form. */
  def planesFor(n: Long, targetOccupancy: Long = 16L): Int = {
    var p = 1
    while (p < 62 && (n >> p) > targetOccupancy) p += 1
    math.max(p, 4)
  }

  /** The recall-targeted band rule for hyperplane LSH — the S-curve
    * MinHash gets from its bands, applied to the embedding side. Per
    * table of r planes a pair at cosine c collides with prob
    * p_r = (1 - acos(c)/π)^r; over L independent tables the union gives
    * recall 1-(1-p_r)^L. r comes from [[planesFor]] (cost: bounded
    * bucket occupancy per table); L is then the smallest count reaching
    * `targetRecall` for pairs AT the threshold (pairs above it do
    * better — the S-curve is monotone). Cost scales as L·r dot products
    * per vector and L bucket rows per vector: the price of recall is
    * EXPLICIT here, not silently traded away. */
  def bandsFor(n: Long, threshold: Double = 0.9, targetRecall: Double = 0.9,
               targetOccupancy: Long = 16L, maxTables: Int = 64): (Int, Int) = {
    require(threshold > -1.0 && threshold <= 1.0, s"cosine threshold $threshold out of range")
    require(targetRecall > 0.0 && targetRecall < 1.0, s"targetRecall $targetRecall must be in (0,1)")
    require(maxTables >= 1, s"maxTables=$maxTables must be >= 1")
    val r = planesFor(n, targetOccupancy)
    val pCollide = 1.0 - math.acos(math.min(1.0, threshold)) / math.Pi
    val pr = math.pow(pCollide, r)
    // the unclamped table count stays a double until AFTER the min():
    // at low thresholds ceil() exceeds Int range and a bare .toInt
    // would pin to Int.MaxValue tables
    val exact =
      if (pr >= 1.0) 1.0
      else math.ceil(math.log1p(-targetRecall) / math.log1p(-pr)).max(1.0)
    val tables = math.min(exact, maxTables.toDouble).toInt
    if (exact > maxTables) {
      // loud: an unbounded L is its own scale bug — L x n signature
      // rows of work and an L x r x dim driver-held tensor (the
      // BandSignatures reference object keeps the PLAN O(1) in L, but
      // the work is real). The clamp trades recall for a bounded build
      // and SAYS SO.
      val achieved = 1.0 - math.pow(1.0 - pr, tables.toDouble)
      System.err.println(
        f"[graft-dedup] bandsFor(n=$n%d, threshold=$threshold%.2f): recall " +
          f"target $targetRecall%.2f needs $exact%.0f tables; clamped to " +
          f"maxTables=$maxTables%d (achieved recall at threshold ~= " +
          f"$achieved%.3f). Raise maxTables, lower targetRecall, or raise " +
          "the threshold.")
    }
    (tables, r)
  }

  /** Dimension of the FIRST non-null, non-empty vector (0 when none
    * exist). Probing `limit(1)` without the null filter either NPEs on
    * a null first row or — under legacy sizeOfNull — reads -1 and
    * degrades every bucket to one all-pairs bucket. */
  private[graft] def probeDim(vectors: DataFrame, vecCol: String): Int =
    vectors.select(size(col(vecCol)).as("_d")).filter(col("_d") > 0)
      .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(0)

  /** Empty (id_a, id_b, cosine) result with `v`'s id type. */
  private def emptyPairFrame(v: DataFrame): DataFrame =
    v.limit(0).select(col("id").as("id_a"), col("id").as("id_b"),
      lit(0.0).as("cosine"))

  /** Single-table hyperplane LSH near-dup pairs — the demo/oracle form
    * (one table cannot hold recall as planes grow; see [[planesFor]]'s
    * recall warning and [[embeddingNearDupsBanded]] for the production
    * construction).
    *
    * Round 14: rebuilt on the same bucket-GROUPING construction as the
    * banded form ([[bucketCandidatePairs]]) instead of a bucket
    * self-join. Values are identical (same buckets, same id_a < id_b
    * pairs, same cosine expression tree — the d10 oracle pins it), but
    * the self-join executed the signature subtree once PER SIDE, and —
    * the real motive — it had no occupancy protection at all: the 30x
    * scale anchor measured the fixed-planes registry entry at 8.9x
    * wall for 3x data (quadratic in-bucket expansion, the d10a-class
    * trap) with nothing to trip. Grouping routes it through the same
    * `maxOccupancy` guard (default Some(1024)) and, when opted out,
    * the same `graft.lsh.occupancy` observe() telemetry. */
  def embeddingNearDups(vectors: DataFrame, idCol: String, vecCol: String,
                        planes: Int = 8, threshold: Double = 0.9,
                        maxOccupancy: Option[Int] = Some(1024),
                        metricSuffix: String = ""): DataFrame = {
    maxOccupancy.foreach(m => require(m >= 2, s"maxOccupancy=$m must be >= 2"))
    val v = vectors.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    val dim = probeDim(vectors, vecCol)
    if (dim == 0) // no usable vectors: no pairs, same schema
      return emptyPairFrame(v)
    val signs: Array[Array[Double]] = planeSigns(planes, dim)
    val sigExprs = (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(col("vec"), lit(signs(p)), (x, s) => x * s),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, "1").otherwise("0")
    }
    val bucketRows = v.select(col("id"), concat_ws("", sigExprs: _*).as("bucket"))
    val cand = bucketCandidatePairs(bucketRows, Seq("bucket"), maxOccupancy,
      metricTag = tagged("embedding", metricSuffix))
    // norms once per vector, not once per candidate pair
    val withN = v.select(col("id"), col("vec"),
      Similarity.norm(col("vec")).as("_n"))
    cand
      .join(withN.select(col("id").as("id_a"), col("vec").as("vec_a"),
        col("_n").as("_na")), "id_a")
      .join(withN.select(col("id").as("id_b"), col("vec").as("vec_b"),
        col("_n").as("_nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("vec_a"), col("vec_b")) / (col("_na") * col("_nb")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Banded (multi-table) hyperplane LSH — the scale-AND-recall
    * construction: L independent tables of r planes each (per-table
    * [[planeSignsSeeded]] seeds), candidate pairs = the UNION of
    * per-table bucket collisions, then ONE exact-cosine verify pass.
    * Exactly the S-curve scheme [[minhashNearDups]] uses for text,
    * applied to embeddings: r controls per-table cost (bucket occupancy
    * ~ n/2^r), L buys recall back (1-(1-p^r)^L). Pick (L, r) with
    * [[bandsFor]] or [[embeddingNearDupsBandedAuto]].
    *
    * FIXED PARAMETERS DO NOT SCALE — measured, not theoretical: the
    * full-suite 10x study (SCALE.md round 12) ran this form at fixed
    * (8, 8) in 83 s where the auto form took 3.8 s on the SAME data —
    * in-bucket pair expansion is quadratic in occupancy n/2^r, so a
    * plane count chosen for one corpus size silently blows up at the
    * next. This form exists for callers who have ALREADY derived
    * (L, r) from their n (e.g. via a prior [[bandsFor]]); if n is not
    * in hand, use the auto form — its one count pass is noise next to
    * the quadratic downside.
    *
    * Runtime tripwire (round 13; API collapsed round 14): because a
    * fixed-parameter call CAN still be handed a corpus it wasn't sized
    * for, buckets wider than `maxOccupancy` (default `Some(1024)` —
    * 64x the bandsFor design occupancy of 16, so honest skew never
    * trips it) raise at execution time. `maxOccupancy = None` is the
    * explicit opt-out: no guard, quadratic cost accepted — but the
    * max observed occupancy still surfaces as an `observe()` metric
    * (`graft.lsh.occupancy.<seq>`) so the load stays visible. The d10a
    * registry entry opts out (the documented pedagogical contrast);
    * production callers should not. One knob, not two: the previous
    * (allowHotBuckets, maxOccupancy) pair made "allow, but with an
    * explicit bound" expressible and silently ignored the bound.
    *
    * Plan shape: plane projections are scan-side — ONE native
    * [[graft.functions.BandSignatures]] call yields all L bucket
    * strings with the plane tensor as a codegen reference object
    * (generated code O(1) in L and r; no per-pair work); the L bucket ids
    * posexplode to (id, tbl, bucket) rows; candidates come from bucket
    * GROUPING (collect ids per bucket, expand sorted in-bucket pairs —
    * never a self-join that would re-execute the projection subtree);
    * a distinct collapses multi-table collisions so each candidate is
    * verified ONCE. Only then do vectors re-enter, by id join, for the
    * exact cosine.
    *
    * `guardHint` (round 18): extra text appended to the occupancy
    * raise message — wrapping drivers (the
    * [[graft.streaming.EmbedStream]] ingest loop) name their OWN
    * escape hatch in the error the operator actually sees, instead of
    * this function's generic knobs. */
  def embeddingNearDupsBanded(vectors: DataFrame, idCol: String, vecCol: String,
                              tables: Int = 8, planesPerTable: Int = 8,
                              threshold: Double = 0.9,
                              maxOccupancy: Option[Int] = Some(1024),
                              metricSuffix: String = "",
                              guardHint: String = "",
                              dim: Int = -1): DataFrame = {
    require(tables >= 1 && planesPerTable >= 1,
      s"tables=$tables, planesPerTable=$planesPerTable must be >= 1")
    maxOccupancy.foreach(m => require(m >= 2, s"maxOccupancy=$m must be >= 2"))
    val v = vectors.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    // dim >= 0: the caller already probed it ONCE for the whole batch
    // (the ingest loop ran three probe collects per micro-batch — one
    // per pass — for the same number; round 21, guide §1.2)
    val d = if (dim >= 0) dim else probeDim(vectors, vecCol)
    if (d == 0) // no usable vectors: no pairs, same schema
      return emptyPairFrame(v)
    // one bucket string per table: sign bits against the seeded plane
    // matrices, all L tables in ONE native expression (BandSignatures)
    // whose plane tensor rides as a codegen reference object. The
    // previous per-table literal-dot composition generated code growing
    // with L x r and hit Janino's InternalCompilerException at the
    // bandsFor clamp (64 tables); this form is O(1) plan size in both,
    // bit-identical buckets (same dot order, same sign rule).
    val cand = bucketCandidatePairs(embSigRows(v, tables, planesPerTable, d),
      Seq("tbl", "bucket"),
      maxOccupancy, metricTag = tagged("embedding_banded", metricSuffix),
      guardHint = guardHint)
    // norms once per vector, not once per candidate pair
    val withN = v.select(col("id"), col("vec"),
      Similarity.norm(col("vec")).as("_n"))
    cand
      .join(withN.select(col("id").as("id_a"), col("vec").as("vec_a"),
        col("_n").as("_na")), "id_a")
      .join(withN.select(col("id").as("id_b"), col("vec").as("vec_b"),
        col("_n").as("_nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("vec_a"), col("vec_b")) / (col("_na") * col("_nb")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** [[embeddingNearDupsBanded]] with (tables, planes) derived from the
    * input size and a recall target via [[bandsFor]] — the recommended
    * entry point: cost stays bounded as n grows AND recall at the
    * threshold stays >= `targetRecall`, with both knobs visible. */
  def embeddingNearDupsBandedAuto(vectors: DataFrame, idCol: String,
                                  vecCol: String, threshold: Double = 0.9,
                                  targetRecall: Double = 0.9,
                                  metricSuffix: String = ""): DataFrame = {
    val (tables, r) = bandsFor(vectors.count(), threshold, targetRecall)
    // maxOccupancy=None: (L, r) here ARE derived from n, so a bucket
    // past the occupancy bound means genuinely duplicate-heavy data —
    // the candidate load is the answer's own size, not a parameter
    // bug. The occupancy observe() metric keeps that load visible.
    embeddingNearDupsBanded(vectors, idCol, vecCol, tables, r, threshold,
      maxOccupancy = None, metricSuffix = metricSuffix)
  }

  // ---- incremental embedding dedup (round 14): the batch x index
  // shape the text family has had since d49, for vectors ----

  private def embSidecarParams(tables: Int, planes: Int, dim: Int): String =
    s"L=$tables,r=$planes,dim=$dim"

  /** The storable (id, tbl, bucket) band-signature SIDECAR for an
    * embedding index — the vector twin of [[bandSignatures]]: build it
    * once when vectors enter the corpus, store it bucketed/partitioned
    * by (tbl, bucket), and every later increment skips the corpus-side
    * signature pass entirely. Self-describing via the same `params`
    * column trick (here (L, r, dim) — all three change the buckets). */
  def embeddingBandSignatures(vectors: DataFrame, idCol: String,
                              vecCol: String, tables: Int = 8,
                              planesPerTable: Int = 8,
                              dim: Int = -1): DataFrame = {
    require(tables >= 1 && planesPerTable >= 1,
      s"tables=$tables, planesPerTable=$planesPerTable must be >= 1")
    val v = vectors.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    // dim >= 0: caller-probed once per batch (the ingest loop)
    val d = if (dim >= 0) dim else probeDim(vectors, vecCol)
    if (d == 0)
      return v.limit(0).select(col("id"), lit(0).as("tbl"),
        lit("").as("bucket"), lit("").as("params"))
    embSigRows(v, tables, planesPerTable, d)
      .withColumn("params", lit(embSidecarParams(tables, planesPerTable, d)))
  }

  /** (id, tbl, bucket) rows for all L tables — the shared scan-side
    * projection of the banded family. */
  private def embSigRows(v: DataFrame, tables: Int, planes: Int,
                         dim: Int): DataFrame = {
    val allPlanes: Seq[Seq[Seq[Double]]] = (0 until tables).map { tbl =>
      planeSignsSeeded(tbl, planes, dim).map(_.toSeq).toSeq
    }
    v.select(col("id"),
      posexplode(graft.functions.BandSignatures.sigs(col("vec"), allPlanes))
        .as(Seq("tbl", "bucket")))
  }

  /** Exact-cosine verification across two vector sides: id_a resolves
    * in `nv`, id_b in `iv` — the vector twin of [[verifyJaccardSides]].
    * Norms once per side, never per pair. */
  private def verifyCosineSides(cand: DataFrame, nv: DataFrame,
                                iv: DataFrame, threshold: Double): DataFrame = {
    val a = nv.select(col("id").as("id_a"), col("vec").as("vec_a"),
      Similarity.norm(col("vec")).as("_na"))
    val b = iv.select(col("id").as("id_b"), col("vec").as("vec_b"),
      Similarity.norm(col("vec")).as("_nb"))
    cand.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("vec_a"), col("vec_b")) / (col("_na") * col("_nb")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** INCREMENTAL embedding near-dup detection: banded-LSH pairs between
    * a NEW batch of vectors and an EXISTING index — the vector twin of
    * [[incrementalNearDups]], and the same 100 TB operational shape: a
    * new embedding shard is deduplicated against the standing corpus
    * without ever re-pairing the corpus with itself. Returns
    * (id_a = batch id, id_b = index id, cosine >= threshold).
    *
    * Scale shape: both sides reduce to (id, tbl, bucket) rows via the
    * same seeded-plane construction as [[embeddingNearDupsBanded]]; the
    * candidate join is batch-bands x index-bands on (tbl, bucket),
    * where AQE broadcasts the batch side when it is small (the normal
    * case: batch << corpus) and handles hot-bucket skew as join skew.
    * The plane space is DIM-anchored to the INDEX (the authoritative
    * vector space); inputs are assumed validated
    * ([[Similarity.validEmbeddings]]) like the whole vector family.
    * Within-batch duplicates are [[embeddingNearDupsBanded]]'s job on
    * the batch alone — the standing corpus is already deduplicated, by
    * induction (same contract as the text [[dedupIncrement]]).
    *
    * `indexBands`: the index's PRECOMPUTED [[embeddingBandSignatures]]
    * sidecar — the steady-state increment. Corpus-side signatures are
    * then never recomputed, and corpus-side VECTORS re-enter only for
    * the (candidate-sized) slice of index ids that actually collided
    * with the batch (semi-join fetch — at 100 TB the index vector table
    * is read candidate-order, not corpus-order). The plane space is
    * then anchored to the BATCH's dim, and the sidecar's params column
    * — required here, since dim is part of the bucket contract — is
    * checked against (L, r, dim) up front: drift fails fast. Output ≡
    * the `None` form with the same parameters (DataxSpec pins the
    * equality).
    *
    * PARAMETERS SCALE WITH THE INDEX, same rule as the banded family:
    * per-bucket load here is batch-occupancy x index-occupancy, so
    * fixed (L, r) on a growing index is the d10a-class trap in join
    * form — derive them from the INDEX size via [[bandsFor]] (and
    * rebuild the sidecar when they change; the params column enforces
    * agreement). The d10c registry entry keeps fixed (3, 4) for oracle
    * replay at driver SFs, like its d10/d10a siblings.
    *
    * `maxBucketLoad` (round 15): the per-bucket batch x index product
    * tripwire, default ON at 2^20 pairs/bucket — the same effective
    * candidate load as the same-side family's `maxOccupancy = Some(1024)`.
    * SCALE.md's 30x study measured exactly this join at 61x wall for 3x
    * data on fixed (3, 4); the raise names the fix
    * ([[embeddingNearDupsIncrementalAuto]]). `None` opts out; the max
    * observed product then ships as the deterministic
    * `graft.lsh.occupancy.inc_embedding` (with `indexBands`:
    * `.inc_embedding_prebanded`) observe() metric. */
  def embeddingNearDupsIncremental(newVecs: DataFrame, index: DataFrame,
                                   idCol: String, vecCol: String,
                                   tables: Int = 8, planesPerTable: Int = 8,
                                   threshold: Double = 0.9,
                                   maxBucketLoad: Option[Long] = Some(1L << 20),
                                   metricSuffix: String = "",
                                   indexBands: Option[DataFrame] = None): DataFrame =
    embeddingIncrementPairs(newVecs, index, indexBands, idCol, vecCol,
      tables, planesPerTable, threshold, maxBucketLoad, metricSuffix,
      dim = -1, ingest = false)._1

  /** [[embeddingNearDupsIncremental]]'s body, shared with the
    * [[graft.streaming.EmbedStream]] ingest loop, which passes the
    * batch `dim` it probed once for the whole micro-batch (`-1`:
    * probe here) and `ingest = true`. The loop's sidecar form differs
    * from the public one in two ways: the sidecar params check rides
    * the data path ([[guardedSidecar]]) instead of a per-call
    * full-sidecar distinct+collect, and the candidate pairs — read by
    * the touched-index fetch AND the verify — are cached, so the band
    * join and its load guard run once (the text twin's
    * [[crossPairs]] shape). Returns the pairs and the release of the
    * caches this call created (a no-op on the public form, whose plan
    * stays lazy and uncached); the caller runs it after its last
    * action over the pairs. `dim` is the batch's, so it only serves
    * the sidecar form; the direct form always probes the index. */
  private[graft] def embeddingIncrementPairs(newVecs: DataFrame,
      index: DataFrame, indexBands: Option[DataFrame], idCol: String,
      vecCol: String, tables: Int, planesPerTable: Int, threshold: Double,
      maxBucketLoad: Option[Long], metricSuffix: String, dim: Int,
      ingest: Boolean): (DataFrame, () => Unit) = {
    require(tables >= 1 && planesPerTable >= 1,
      s"tables=$tables, planesPerTable=$planesPerTable must be >= 1")
    def vecs(df: DataFrame): DataFrame = df.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    val nv = vecs(newVecs)
    val nothing = () => ()
    indexBands match {
      case None =>
        val iv = vecs(index)
        val d = probeDim(index, vecCol)
        if (d == 0) // empty index: nothing to collide with
          return (emptyPairFrame(nv), nothing)
        val cand = crossBucketCandidatePairs(
          embSigRows(nv, tables, planesPerTable, d),
          embSigRows(iv, tables, planesPerTable, d),
          Seq("tbl", "bucket"), maxBucketLoad,
          metricTag = tagged("inc_embedding", metricSuffix))
        (verifyCosineSides(cand, nv, iv, threshold), nothing)
      case Some(ib) =>
        val d = if (dim >= 0) dim else probeDim(newVecs, vecCol)
        if (d == 0) // empty/unusable batch: no pairs
          return (emptyPairFrame(nv), nothing)
        val contract = embContract(tables, planesPerTable, d)
        val ibCols =
          if (ingest) guardedSidecar(ib, contract)
          else validatedSidecar(ib, contract)
        val pairs = crossBucketCandidatePairs(
          embSigRows(nv, tables, planesPerTable, d),
          ibCols,
          Seq("tbl", "bucket"), maxBucketLoad,
          metricTag = tagged("inc_embedding_prebanded", metricSuffix))
        val (cand, release) =
          if (!ingest) (pairs, nothing)
          else {
            val c = pairs.cache()
            registerCache(c)
            (c, () => releaseCaches(Seq(c)))
          }
        val touched = index.join(cand.select(col("id_b").as(idCol)).distinct(),
          Seq(idCol), "left_semi")
        (verifyCosineSides(cand, nv, vecs(touched), threshold), release)
    }
  }

  /** [[embeddingNearDupsIncremental]] with (L, r) DERIVED FROM THE INDEX
    * SIZE via [[bandsFor]] — the production parameterization the direct
    * form's scaladoc prescribes, measured sublinear (1.5x wall for 3x
    * data, vs 61x for the fixed-parameter shape; SCALE.md "Full-batch-
    * suite anchor at 30x (round 14)"), as an API instead of caller
    * discipline. One `count()` of the index per call; at the steady
    * state, prefer counting once at sidecar-build time and storing the
    * derived (L, r) with the [[embeddingBandSignatures]] sidecar.
    *
    * maxBucketLoad=None like the other auto forms: parameters ARE
    * derived from n here, so a bucket past the bound means genuinely
    * duplicate-heavy data — the candidate load is the answer's own
    * size, not a parameter bug. The `graft.lsh.occupancy.inc_embedding`
    * observe() metric keeps that load visible. */
  def embeddingNearDupsIncrementalAuto(newVecs: DataFrame, index: DataFrame,
                                       idCol: String, vecCol: String,
                                       threshold: Double = 0.9,
                                       metricSuffix: String = ""): DataFrame = {
    val (tables, r) = bandsFor(index.count(), threshold)
    embeddingNearDupsIncremental(newVecs, index, idCol, vecCol, tables, r,
      threshold, maxBucketLoad = None, metricSuffix = metricSuffix)
  }
}
