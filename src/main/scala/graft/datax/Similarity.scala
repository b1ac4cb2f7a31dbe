package graft.datax

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Brute-force cosine top-k is the exact baseline: queries are broadcast,
  * scores are a scan-side fold (sequential, deterministic), and the top-k
  * is a per-query window. The scale path is [[ivfTopK]]: an IVF-style
  * coarse quantizer — vectors are bucketed by nearest centroid at index
  * time, queries probe only the nProbe nearest buckets, shrinking the
  * scanned fraction to ~nProbe/nCentroids.
  */
object Similarity {

  /** Double-cast of a float vector (fold stays in float64 — deterministic
    * and oracle-portable). */
  def toDouble(vec: Column): Column = transform(vec, x => x.cast("double"))

  /** Dot product via the native codegen'd expression
    * ([[graft.functions.DotProduct]]); bit-identical to [[dotFold]]. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.dotp(a, b)

  /** The built-in higher-order-function fold (interpreted; kept as the
    * reference semantics the native expression must match). */
  private[graft] def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The vector-space entry contract (round 13): every ANN/centroid
    * operator here presumes a fixed-dimension space, so a null or
    * ragged vector is a DATA error — and a production corpus quietly
    * shrinking under a silent filter is a debugging trap. Policy is
    * explicit:
    *
    *  - `"fail"` (default): the first malformed row raises at
    *    execution time. The `raise_error` is grafted as a FILTER
    *    condition, not a projected column: Catalyst's ColumnPruning
    *    drops unused Project expressions (side effects are not
    *    preserved), so a column graft would silently vanish for a
    *    caller that validates and then never reads the vector column
    *    again — whereas a Filter can only be removed when its
    *    condition is provably true, which a non-foldable raise_error
    *    branch never is. Pinned by ValidEmbeddingsSpec's prune-path
    *    negative control (validate → select id only → still raises).
    *    Zero extra jobs; names the offense and the opt-outs.
    *  - `"drop"`: silent filter. ONLY for callers whose downstream
    *    contract applies the identical filter (e.g. the query
    *    registry, whose DuckDB oracles read through the same
    *    `WHERE embedding IS NOT NULL AND len = dim`) — symmetric
    *    drop on both sides is a contract, not a trap.
    *  - `"dropWarn"`: filter, but first count the malformed rows
    *    (one cheap column-pruned probe) and print the dropped count
    *    to stderr when nonzero — the streaming-unfriendly but
    *    operator-friendly middle ground for ad-hoc corpus work.
    *  - `"quarantine"`: the dead-letter mode (the engine's ST3
    *    posture — the reference dead-letters every failed payload
    *    rather than dropping it, `app/tmdb_client.py:76-85`):
    *    malformed rows are appended to `quarantineDir` as parquet
    *    with a `malformed_reason` column (`null_vector` /
    *    `ragged_dim_<n>`), then the clean rows flow on. Costs one
    *    extra pass over the input (the quarantine write), same as
    *    any dead-letter sink; the main path is the identical filter
    *    `"drop"` applies. The write is EAGER — it runs AT CALL TIME
    *    with mode("append"), so merely composing the pipeline
    *    (plan inspection, a retry wrapper, calling this twice while
    *    building) appends duplicate quarantine rows even if the
    *    returned frame is never executed, and the two passes over a
    *    NON-deterministic source may see different rows. Call once,
    *    on a deterministic input; dedup the quarantine output by id
    *    downstream if a replay wrapper may re-invoke it — or use
    *    [[validEmbeddingsSplit]], the LAZY face that returns both
    *    frames and leaves the dead-letter write (and its idempotence)
    *    to the caller's sink. Text twin: [[TextStats.validDocuments]].
    */
  def validEmbeddings(vectors: DataFrame, vecCol: String, dim: Int,
                      onMalformed: String = "fail",
                      quarantineDir: Option[String] = None): DataFrame = {
    require(dim > 0, s"dim=$dim must be positive")
    // the malformedness RULE lives once, in the split face — the eager
    // modes are sinks over it (round-16 review finding: the duplicated
    // predicate/reason expressions could silently desynchronize)
    val (clean, quarantine) = validEmbeddingsSplit(vectors, vecCol, dim)
    onMalformed match {
      case "fail" =>
        val bad = badEmbedding(vecCol, dim)
        vectors.filter(
          when(bad, raise_error(concat(
            lit(s"[graft-similarity] malformed embedding in `$vecCol`: " +
              s"expected a non-null $dim-dim vector, got "),
            when(col(vecCol).isNull, lit("NULL"))
              .otherwise(concat(lit("dim="), size(col(vecCol)).cast("string"))),
            lit(". Clean the corpus, or pass onMalformed=\"drop\" / " +
              "\"dropWarn\" / \"quarantine\" to filter such rows.")))
            .cast("boolean"))
            .otherwise(lit(true)))
      case "drop" => clean
      case "dropWarn" =>
        val dropped = quarantine.count()
        if (dropped > 0) System.err.println(
          s"[graft-similarity] validEmbeddings($vecCol, dim=$dim): dropped " +
            s"$dropped malformed row(s) (null or ragged).")
        clean
      case "quarantine" =>
        val dir = quarantineDir.getOrElse(throw new IllegalArgumentException(
          """onMalformed="quarantine" requires quarantineDir=Some(path)"""))
        quarantine.write.mode("append").parquet(dir)
        clean
      case other => throw new IllegalArgumentException(
        s"""onMalformed="$other": expected "fail", "drop", "dropWarn", or "quarantine"""")
    }
  }

  /** The shared malformed-vector predicate — ONE definition for the
    * split and eager faces. */
  private def badEmbedding(vecCol: String, dim: Int): Column =
    col(vecCol).isNull || size(col(vecCol)) =!= dim

  /** The LAZY dead-letter face of [[validEmbeddings]] (round 16 — the
    * quarantine mode's eager-write wart designed away for callers who
    * can own the sink): returns (clean, quarantine) as two PURE frames
    * over the same input — the quarantine side carries the same
    * `malformed_reason` column the eager mode writes — with NO side
    * effect at call time. Composing, inspecting, or retry-wrapping the
    * pipeline appends nothing; the caller writes the quarantine frame
    * as part of their own action and owns its idempotence (a
    * foreachBatch caller lands it next to the batch output; a batch
    * caller writes it once). The two frames share the input SCAN, not
    * a materialization — executing both reads the source twice, so
    * persist upstream if the source is non-deterministic (the same
    * rule the eager mode documents). Text twin:
    * [[TextStats.validDocumentsSplit]]. */
  def validEmbeddingsSplit(vectors: DataFrame, vecCol: String,
                           dim: Int): (DataFrame, DataFrame) = {
    require(dim > 0, s"dim=$dim must be positive")
    val bad = badEmbedding(vecCol, dim)
    (vectors.filter(!bad),
      vectors.filter(bad).withColumn("malformed_reason",
        when(col(vecCol).isNull, lit("null_vector"))
          .otherwise(concat(lit("ragged_dim_"),
            size(col(vecCol)).cast("string")))))
  }

  /** Exact cosine top-k: for each query vector, the k nearest vectors
    * (excluding itself), rank 1 = nearest; ties broken by id.
    *
    * Norms are computed once per SIDE before the join — cosine inside
    * the pair loop would fold each vector's self-dot once per pair
    * (interpreted lambdas, 3x the work). `dot/(na*nb)` is the same
    * float expression tree as `cosine()`, so results are bit-identical. */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
      .withColumn("_n", norm(col("vec")))
    val q = queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qvec"))
      .withColumn("_qn", norm(col("qvec")))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        (dot(col("vec"), col("qvec")) / (col("_n") * col("_qn"))).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "id", "cosine")
  }

  /** A centroid table pulled to the driver — the K-bounded collect every
    * centroid operator here already budgets for ([[centroidsFor]] clamps
    * K at 4096; [[lloyd]] collects the table per round, the probe faces
    * broadcast it). One collect feeds every consumer: the assignment
    * literal, the geometry write, the residual lookup. */
  private final case class LocalCentroids(
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType) {
    private val cidIx = schema.fieldIndex("centroid_id")
    private val vecIx = schema.fieldIndex("cvec")
    /** (cid, cvec) ascending by cid — the deterministic literal order.
      * Lazy: the probe faces hold the rows only to re-serve them as a
      * frame ([[df]]), and must not validate ids they never rank by. */
    lazy val sorted: Array[(Long, Seq[Double])] = rows.map { r =>
      val cid = r.get(cidIx) match {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case null => throw new IllegalArgumentException(
          "null centroid_id in a quantizer table: every builder here " +
            "emits non-null ids, so a null means a hand-built or " +
            "corrupted table — fix the table (the assignment tiebreak " +
            "is defined on ids, not nulls)")
        case x => throw new IllegalArgumentException(
          s"centroid_id must be integral, got $x")
      }
      (cid, r.getSeq[Double](vecIx))
    }.sortBy(_._1)
    def isEmpty: Boolean = rows.isEmpty
    def cidType: org.apache.spark.sql.types.DataType = schema(cidIx).dataType
    /** Per-centroid norms precomputed on the driver with EXACTLY the
      * executor fold's arithmetic (ascending acc += x*x, then sqrt —
      * [[graft.functions.DotProduct]]'s loop), cid-ascending: the
      * per-row cosine divides by the same double the pairwise cosine()
      * computed, while the K x dim norm(cvec) re-fold drops out of the
      * row loop. */
    lazy val norms: Seq[Double] = sorted.map { case (_, vec) =>
      var acc = 0.0
      var i = 0
      while (i < vec.length) { acc += vec(i) * vec(i); i += 1 }
      math.sqrt(acc)
    }.toSeq
    /** The winning 0-based slot (cid-ascending order) of one row's
      * nearest centroid — max cosine, exact ties to the LOWEST
      * centroid_id, NaN-largest / null-vector-to-slot-0, the total
      * order the r20 array_sort form and the pre-r20 window both
      * produced (argued in [[graft.functions.NearestCentroid]]'s
      * scaladoc, exercised by the malformed-embeddings oracle replay).
      * Round 21: a native codegen'd O(K) fold-max — the r20 form paid
      * K interpreted lambdas plus an O(K log K) per-row SORT, and
      * (CollapseProject inlining the row-norm projection back into the
      * lambda) re-folded norm(vec) once per centroid; this form folds
      * the row norm once and whole-stage-compiles. The centroids ride
      * as ONE codegen reference object (data, not code): plan size and
      * bytecode stay O(1) in K, no codegen blowup at the K=4096
      * clamp. */
    def nearestIx(vec: Column): Column =
      graft.functions.NearestCentroid.slot(vec, sorted.map(_._2), norms)
    /** cid-ascending centroid ids, for slot -> cid lookup. */
    def cidsLit: Column = typedLit(sorted.map(_._1).toSeq)
    /** cid-ascending centroid vectors, for positional (ix) lookup. */
    def vecsLit: Column = typedLit(sorted.map(_._2).toSeq)
    /** The collected rows as a local frame (for geometry writes) —
      * schema, types and values exactly the source table's. */
    def df(spark: org.apache.spark.sql.SparkSession): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def localCentroids(centroids: DataFrame): LocalCentroids =
    LocalCentroids(centroids.collect(), centroids.schema)

  /** Nearest-centroid assignment: centroids collected once and applied
    * scan-side as a native codegen'd argmax — best by (cosine desc,
    * centroid_id asc), bit-identical to both prior forms (the r20
    * array_sort literal and the pre-r20 broadcast-crossJoin +
    * row_number window; see [[graft.functions.NearestCentroid]] for
    * the tie/NaN/null argument).
    *
    * Why scan-side (round 20, guide §2.4): the window form shuffled K
    * COPIES of every vector through one Exchange — 16x the corpus
    * bytes through the wire at K=16 for what is a per-row argmax; this
    * form shuffles NOTHING. Why native (round 21, guide §1.2 step 2 /
    * §4.1): the r20 literal argmax was K interpreted HOF lambdas plus
    * an O(K log K) array_sort per row — the dominant CPU term of every
    * build once the shuffles were gone; the expression is one
    * whole-stage-codegen'd O(K) loop.
    *
    * Contracts (r20 ADVICE, stated once): emits exactly ONE row per
    * input ROW — ids are unique by the vector-table contract every
    * caller already enforces (the pre-r20 window form would have
    * row_number-deduped a duplicate-id corpus instead; no operator
    * here feeds one). Centroid ids must be non-null integrals —
    * [[LocalCentroids]] raises on anything else at collect time. */
  private def assign(v: DataFrame, centroids: DataFrame): DataFrame =
    assignLocal(v, localCentroids(centroids))

  private def assignLocal(v: DataFrame, lc: LocalCentroids): DataFrame =
    if (lc.isEmpty)
      // zero centroids -> zero assigned rows (the crossJoin identity)
      v.filter(lit(false)).select(col("id"), col("vec"),
        lit(null).cast(lc.cidType).as("centroid_id"))
    else
      v.select(col("id"), col("vec"),
        element_at(lc.cidsLit, lc.nearestIx(col("vec")) + 1)
          .cast(lc.cidType).as("centroid_id"))

  /** Per-class centroids from a labeled embedding table: one row per
    * (label, dim) with the dimension mean — the nearest-class-mean /
    * class-separation building block. The sum is a SEQUENTIAL double
    * fold in id order (the d08-proven engine-portable pattern): a plain
    * double sum would depend on partition order, and decimal element
    * casts can round-tie differently across engines (observed: 1 cell in
    * 64k). Per-group lists are bounded by class size; for unbounded
    * classes at scale pass `chunkIds` > 0 — ids are chunked into fixed
    * ranges of that many id VALUES, each chunk folds its members in id
    * order, and the per-chunk partial sums fold in chunk order: per-group
    * collected state drops from the class width to max(chunkIds, width /
    * chunkIds) rows (chunkIds ~ sqrt(width) balances the two levels).
    * Chunking is keyed on id VALUES, so the grouping — and the result —
    * is independent of run, partitioning, and cluster size: the chunked
    * fold is exactly as deterministic as the flat one. It is NOT
    * bit-identical to the flat fold on arbitrary data (float addition is
    * not associative; the chunk seams re-associate), which is why the
    * flat fold stays the default oracle face: chunked is the scale face,
    * reproducible against ITSELF at any partitioning (spec-pinned), and
    * equal to flat wherever the sums are exact. Requires non-negative
    * ids (cast truncation toward zero would fold negative ids out of
    * order). */
  def labelCentroids(vectors: DataFrame, labelCol: String = "label",
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     chunkIds: Long = 0L): DataFrame = {
    val chunk = resolveChunkIds(vectors, idCol, chunkIds)
    val ex = vectors
      .select(col(labelCol).as("label"), col(idCol).as("id"),
        posexplode(toDouble(col(vecCol))).as(Seq("dim", "_x")))
    if (chunk <= 0L)
      ex.groupBy("label", "dim")
        .agg(
          sort_array(collect_list(struct(col("id").as("i"), col("_x").as("x"))))
            .as("_sx"),
          count(lit(1)).cast("long").as("n_vectors"))
        .select(col("label"), col("dim"),
          (aggregate(col("_sx"), lit(0.0), (a, s) => a + s.getField("x"))
            / col("n_vectors")).as("centroid"),
          col("n_vectors"))
    else
      ex.withColumn("_chunk", expr(s"id DIV ${chunk}L")) // integer DIV: exact at any id magnitude
        .groupBy("label", "dim", "_chunk")
        .agg(
          aggregate(
            sort_array(collect_list(struct(col("id").as("i"), col("_x").as("x")))),
            lit(0.0), (a, s) => a + s.getField("x")).as("_ps"),
          count(lit(1)).cast("long").as("_n"))
        .groupBy("label", "dim")
        .agg(
          aggregate(
            sort_array(collect_list(struct(col("_chunk").as("c"), col("_ps").as("s")))),
            lit(0.0), (a, s) => a + s.getField("s")).as("_sum"),
          sum("_n").as("n_vectors"))
        .select(col("label"), col("dim"),
          (col("_sum") / col("n_vectors")).as("centroid"),
          col("n_vectors"))
  }

  /** IVF index: deterministic centroid sample (every `stride`-th vector,
    * ANCHORED at min(id) — round-18 ADVICE: a bare `id % stride == 0`
    * yields an EMPTY quantizer on any corpus whose ids share no residue
    * with 0 mod stride, e.g. an all-odd-id dedup survivor set; the
    * anchor makes the rule total over any non-empty id layout, and on
    * min-id-0 corpora — every oracle fixture — picks identical ids)
    * + nearest-centroid assignment. Returns (centroids, assigned).
    * One combined (count, min) aggregate, not two passes. */
  def ivfIndex(vectors: DataFrame, nCentroids: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
    val nm = v.agg(count(lit(1)), min(col("id").cast("long"))).head()
    val n = nm.getLong(0)
    val minId = if (nm.isNullAt(1)) 0L else nm.getLong(1)
    val stride = math.max(1L, n / nCentroids)
    val centroids = v.filter((col("id").cast("long") - minId) % stride === 0)
      .orderBy("id").limit(nCentroids) // sorted limit => deterministic pick
      .select(col("id").as("centroid_id"), col("vec").as("cvec"))
    (centroids, assign(v, centroids))
  }

  /** IVF index with Lloyd-refined centroids: stride-sample seeds, then
    * `iterations` rounds of assign + per-dimension mean. The quality
    * path for the coarse quantizer — tighter clusters mean a given
    * nProbe scans fewer wrong buckets at the same recall.
    *
    * Scale shape per round: one broadcast-assign pass over the vectors,
    * then posexplode to (centroid, dim) rows whose `avg` partial-
    * aggregates map-side — the shuffle carries nCentroids x dim rows,
    * never vectors. The K centroid vectors (tiny) are collected and
    * re-broadcast each round, exactly as MLlib's KMeans drives Lloyd —
    * keeping per-iteration lineage flat. Empty clusters keep their
    * previous centroid. */
  private[graft] def ivfIndexKMeans(vectors: DataFrame, nCentroids: Int,
                                    iterations: Int = 2, idCol: String = "vec_id",
                                    vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
    val centroids = lloyd(v, ivfIndex(vectors, nCentroids, idCol, vecCol)._1,
      iterations, avgMeans)
    (centroids, assign(v, centroids))
  }

  /** Deterministic hash-uniform coin in [0, 1): the d42 md5(seed:id)
    * rule — a pure function of (seed, tag, id), so every "random"
    * choice built on it reproduces at any partitioning, run, or
    * cluster size. First 8 md5 hex chars as a 32-bit uniform. */
  private def hashUniform(seed: Long, tag: String, id: Column): Column =
    conv(substring(md5(concat_ws(":", lit(seed.toString), lit(tag),
      id.cast("string"))), 1, 8), 16, 10).cast("double") / 4294967296.0

  /** RESERVOIR seeding: a uniform k-sample of the corpus as the
    * quantizer seed — the simplest of the two full-scale seeding
    * variants the stride pick stands in for at fixture scale (the
    * stride rule needs ids to be roughly shuffled relative to the data
    * distribution; a corpus written clustered-by-id feeds it
    * pathological seeds). Bottom-k by the [[hashUniform]] coin ≡ a
    * uniform random sample, deterministic and partitioning-invariant;
    * one scan + one top-k window over k rows per partition (rank via
    * sort of (coin, id) — ties impossible in practice, broken by id
    * regardless). Output (centroid_id = source id, cvec) — drop-in for
    * [[lloyd]] / [[assign]] / [[ivfIndexWrite]]'s given-quantizer
    * faces. */
  private[graft] def ivfSeedsReservoir(vectors: DataFrame, nCentroids: Int,
                                       seed: Long = 42L,
                                       idCol: String = "vec_id",
                                       vecCol: String = "embedding"): DataFrame = {
    require(nCentroids >= 1, s"nCentroids=$nCentroids must be >= 1")
    vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
      .withColumn("_u", hashUniform(seed, "res", col("id")))
      .orderBy(col("_u"), col("id")).limit(nCentroids)
      .select(col("id").as("centroid_id"), col("vec").as("cvec"))
  }

  /** KMEANS|| seeding (Bahmani et al. 2012) — the quality full-scale
    * seeding variant: instead of one uniform sample, `rounds` passes
    * each sample points with probability proportional to their current
    * quantization cost (squared L2 to the nearest center so far), so
    * the seed set chases uncovered mass — exactly what a uniform or
    * stride sample misses on skewed cluster sizes. Deterministic
    * end-to-end: the per-point coin is [[hashUniform]](seed, round,
    * id), so the seed set is a pure function of (corpus, params) —
    * reproducible at any partitioning (spec pins bit-equality to an
    * independent Scala model on integer vectors, where the cost sum is
    * IEEE-exact; on real floats the ψ normalizer inherits float-sum
    * order like [[avgMeans]] — the quality-path trade, Lloyd
    * self-corrects).
    *
    * Scale shape per round (round 20 scan-side; NATIVE since round
    * 21): the per-point cost is `graft_min_sqdist(vec, centers)` —
    * one codegen'd two-level loop over the driver-held center tensor
    * ([[graft.functions.MinSqDist]]), evaluated in the scan, so a
    * round shuffles NOTHING and the expression tree, generated
    * bytecode and plan size are all O(1) in |centers| (the tensor is
    * one codegen reference object — no Janino blowup at the
    * [[centroidsFor]] k = 4096 clamp, the growth pattern the native
    * [[graft.functions.BandSignatures]] expression was built to kill
    * at the 64-table clamp in r5). The sampled ~`oversample *
    * nCentroids` ids pull their vectors in the same coin-filter scan —
    * the [[lloyd]] K-bounded driver budget; candidates accumulate to
    * ~rounds * oversample * k total. Per-point cost is bit-identical
    * to both prior forms (the same ordered ascending-dim fold per
    * (point, center), min under array_min's NaN-greatest order —
    * [[graft.functions.MinSqDist]]'s scaladoc argues the corners); ψ
    * rides ONE map-side-partial sum whose CROSS-POINT order is
    * partitioning-dependent on arbitrary floats, so ψ (and the coin
    * picks) is deterministic where the sum is exact (integer-valued
    * entries — exactly what the spec model and the d09l oracle pin;
    * round-19 ADVICE correction). The final
    * reduction (the paper's weighted-clustering step) weights each
    * candidate by its nearest-member count (one broadcast-assign pass
    * + count), then picks k by GREEDY FARTHEST-POINT over the
    * candidate set driver-side — heaviest candidate first, then
    * repeatedly the candidate farthest (squared L2) from the chosen
    * set, ties to the lower id. Deterministic, and INCREMENTAL (round
    * 18): each pick updates a cached min-distance per remaining
    * candidate — O(candidates * k * dim) total instead of the
    * recompute form's O(candidates² * dim * k); at the clamp
    * (candidates ~16k, k 4096, dim 64) that is ~4×10⁹ flops of
    * driver work, a one-time build cost measured in seconds — bounded
    * by construction since candidates ≤ rounds * oversample * k. A
    * plain top-k by weight would re-concentrate on
    * big clusters (several candidates SPLIT one cluster's weight and
    * each still outweighs a small cluster's single row — measured on
    * the skewed spec fixture: coverage 7 vs the stride pick's 9),
    * where k-center preserves exactly the coverage the cost-chasing
    * rounds bought; the [[lloyd]] refinement that follows does the
    * balancing. Output (centroid_id = source id, cvec) — k rows, or
    * FEWER when the candidate pool runs dry (a degenerate corpus: ψ
    * hits 0, or the coin picks nothing) — short returns warn on
    * stderr, the [[ivfIndex]] small-corpus behavior made loud. */
  def ivfSeedsKMeansParallel(vectors: DataFrame, nCentroids: Int,
                             rounds: Int = 2, oversample: Double = 2.0,
                             seed: Long = 42L,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    require(nCentroids >= 1 && rounds >= 1 && oversample > 0,
      s"nCentroids=$nCentroids, rounds=$rounds, oversample=$oversample out of range")
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
    // deterministic first center: the minimum id (any fixed pick works;
    // min-id needs no coin)
    var centers: Seq[(Long, Seq[Double])] = v.orderBy("id").limit(1)
      .as[(Long, Seq[Double])].collect().toSeq
    require(centers.nonEmpty, "cannot seed from an empty corpus")
    val l = oversample * nCentroids
    for (r <- 1 to rounds) {
      // per-point cost evaluated scan-side against the driver-held
      // centers (round 20; NATIVE since round 21): the round-18
      // centers-as-data form crossJoined the corpus against a
      // broadcast centers frame and shuffled every (id, d2) row into a
      // groupBy(id).min — a |centers|x row expansion plus an Exchange
      // per round for what is a per-row minimum; the r20 literal form
      // shuffled nothing but paid |centers| x dim interpreted lambda
      // evaluations per row. graft_min_sqdist is the same ordered
      // ascending-dim fold and the same array_min total order
      // (NaN-greatest), codegen'd — per-point cost bit-identical
      // (argued in [[graft.functions.MinSqDist]]'s scaladoc). Plan
      // size stays O(1) in |centers| (one reference object). The pick
      // pass re-derives the cost inline instead of joining the cost
      // table back against v — same rows, one scan, no join (psi is a
      // driver scalar between the two, so the two passes cannot fuse
      // further).
      val costOf = graft.functions.MinSqDist.minSqDist(col("vec"),
        centers.map(_._2))
      val psi = v.select(costOf.as("_cost")).agg(sum("_cost"))
        .head().getDouble(0)
      if (psi > 0) {
        val known = centers.map(_._1).toSet
        val picked = v
          .filter(hashUniform(seed, s"r$r", col("id")) * psi < costOf * l)
          .select("id", "vec").as[(Long, Seq[Double])].collect()
          .filterNot(p => known.contains(p._1))
        centers = centers ++ picked.sortBy(_._1)
      }
    }
    // reduction: weights via one broadcast-assign pass, then greedy
    // farthest-point on the driver (see scaladoc for why not top-k by
    // weight)
    val candDF = centers.toDF("centroid_id", "cvec")
    val weights = assign(v, candDF)
      .groupBy("centroid_id").agg(count(lit(1)).as("_w"))
      .as[(Long, Long)].collect().toMap
    def d2(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val first = centers.maxBy { case (cid, _) =>
      (weights.getOrElse(cid, 0L), -cid) }
    var chosen = Vector(first)
    // incremental farthest-point (round 18): cache each remaining
    // candidate's min squared-L2 to the chosen set and refresh it only
    // against the newly chosen center — the same exact min (min over
    // identical doubles, computed associatively) and the same argmax
    // tie rule ((minD, -cid) is unique per candidate), at
    // O(candidates * k * dim) instead of recompute's O(candidates²)
    val rest = scala.collection.mutable.ArrayBuffer.from(
      centers.filterNot(_._1 == first._1))
    val minD = scala.collection.mutable.ArrayBuffer.from(
      rest.map(c => d2(c._2, first._2)))
    while (chosen.size < nCentroids && rest.nonEmpty) {
      var best = 0
      var i = 1
      while (i < rest.length) {
        if (minD(i) > minD(best) ||
            (minD(i) == minD(best) && rest(i)._1 < rest(best)._1)) best = i
        i += 1
      }
      val next = rest(best)
      chosen = chosen :+ next
      rest.remove(best)
      minD.remove(best)
      i = 0
      while (i < rest.length) {
        val d = d2(rest(i)._2, next._2)
        if (d < minD(i)) minD(i) = d
        i += 1
      }
    }
    if (chosen.size < nCentroids)
      System.err.println(
        s"[graft-similarity] ivfSeedsKMeansParallel: candidate pool ran " +
          s"dry at ${chosen.size} of $nCentroids requested seeds " +
          "(degenerate corpus or too few oversampling rounds) — the " +
          "index will have fewer buckets than sized for")
    chosen.toDF("centroid_id", "cvec")
  }

  /** [[ivfIndexKMeans]] with kmeans|| seeding instead of the stride
    * sample — the full-scale quality quantizer: cost-chasing seeds
    * ([[ivfSeedsKMeansParallel]]), then the same Lloyd refinement.
    * Use when the corpus layout makes the stride pick unrepresentative
    * (id-clustered writes, heavily skewed cluster sizes). */
  private[graft] def ivfIndexKMeansParallel(vectors: DataFrame, nCentroids: Int,
                                            rounds: Int = 2, iterations: Int = 2,
                                            oversample: Double = 2.0, seed: Long = 42L,
                                            idCol: String = "vec_id",
                                            vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
    val centroids = lloyd(v,
      ivfSeedsKMeansParallel(vectors, nCentroids, rounds, oversample, seed,
        idCol, vecCol),
      iterations, avgMeans)
    (centroids, assign(v, centroids))
  }

  /** One (centroid, dim) mean table from an assignment — avg(): fastest,
    * map-side partials, summation-order-dependent (Lloyd self-corrects). */
  private def avgMeans(assigned: DataFrame): DataFrame =
    assigned
      .select(col("centroid_id"), posexplode(col("vec")).as(Seq("_d", "_x")))
      .groupBy("centroid_id", "_d").agg(avg("_x").as("_m"))

  /** The Lloyd driver shared by both mean strategies: per round, assign,
    * aggregate means via `means`, keep the previous centroid for empty
    * clusters, collect the K refined vectors and re-broadcast (MLlib's
    * KMeans drive — keeps per-iteration lineage flat). `means` returns
    * (centroid_id, _d, _m) rows. */
  private def lloyd(v: DataFrame, seed: DataFrame, iterations: Int,
                    means: DataFrame => DataFrame): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    var centroids = seed
    for (_ <- 0 until iterations) {
      val meanVecs = means(assign(v, centroids))
        .groupBy("centroid_id")
        .agg(transform(array_sort(collect_list(struct(col("_d"), col("_m")))),
          s => s.getField("_m")).as("_mean"))
      val next = centroids
        .join(meanVecs, Seq("centroid_id"), "left_outer")
        .select(col("centroid_id"), coalesce(col("_mean"), col("cvec")).as("cvec"))
        .as[(Long, Seq[Double])].collect().toSeq
      centroids = next.toDF("centroid_id", "cvec")
    }
    centroids
  }

  /** Lloyd rounds with ORDERED-fold means — the oracle-stable face of
    * [[ivfIndexKMeans]]. `avg()` means are summation-order-dependent
    * (fine for the quality path: Lloyd is self-correcting), but the
    * harness hash-compare needs bit-exact engine portability, so each
    * (centroid, dim) mean is the d25-proven sequential id-ordered double
    * fold divided by the member count. Assignment ties break by
    * centroid_id (the d09-proven portable shape). Returns the refined
    * centroids as (centroid_id, dim, value) rows — flat, because array
    * columns don't survive the harness's result sort.
    *
    * Scale note: collect_list carries every member value through the
    * shuffle (vs avg's map-side partials) — at unbounded cluster sizes
    * use [[ivfIndexKMeans]] or pass `chunkIds` > 0 for the chunked-range
    * ordered fold (the [[labelCentroids]] mitigation: per-group state
    * bounded at max(chunkIds, width/chunkIds); deterministic at any
    * partitioning; bit-equal to the flat fold only where sums are
    * exact, so the flat fold stays the oracle face). */
  def kmeansCentroidsOrdered(vectors: DataFrame, nCentroids: Int,
                             iterations: Int = 2,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             chunkIds: Long = 0L): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
    val chunk = resolveChunkIds(vectors, idCol, chunkIds)
    val means = if (chunk > 0L) orderedMeansChunked(chunk) _
                else orderedMeans _
    lloyd(v, ivfIndex(vectors, nCentroids, idCol, vecCol)._1,
        iterations, means)
      .select(col("centroid_id"),
        posexplode(col("cvec")).as(Seq("dim", "value")))
  }

  /** Plan-audit face of the kmeans|| per-round COST pass
    * ([[ivfSeedsKMeansParallel]]'s ψ query) against a two-point center
    * set — exposed so PlanDump records the scan-side
    * `graft_min_sqdist` shape (the declared d09l/d09m entries hide the
    * per-round queries behind the driver loop's collects). */
  private[graft] def kmeansParCostForPlan(vectors: DataFrame): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(col("vec_id").as("id"),
      toDouble(col("embedding")).as("vec"))
    val centers = v.orderBy("id").limit(2)
      .as[(Long, Seq[Double])].collect().toSeq
    v.select(graft.functions.MinSqDist.minSqDist(col("vec"),
      centers.map(_._2)).as("_cost"))
  }

  /** ONE ordered-fold Lloyd round's means frame (assign + the d25
    * id-ordered fold) against the stride seed — the query [[lloyd]]
    * aggregates each round BEFORE its K-bounded collect, exposed
    * read-only so PlanDump records the real per-round plan (the r20
    * `internal_kmeans_round` dump captured only the collected-table
    * stub; VERDICT evidence-hygiene item). */
  private[graft] def kmeansRoundForPlan(vectors: DataFrame,
      nCentroids: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
    orderedMeans(assign(v, ivfIndex(vectors, nCentroids, idCol, vecCol)._1))
  }

  /** One (centroid, dim) mean table — the d25 sequential id-ordered
    * double fold / count: engine-portable bit-exact, at the cost of
    * carrying member values through the shuffle. */
  private def orderedMeans(assigned: DataFrame): DataFrame =
    assigned
      .select(col("centroid_id"), col("id"), posexplode(col("vec")).as(Seq("_d", "_x")))
      .groupBy("centroid_id", "_d")
      .agg(
        sort_array(collect_list(struct(col("id").as("i"), col("_x").as("x"))))
          .as("_sx"),
        count(lit(1)).as("_n"))
      .select(col("centroid_id"), col("_d"),
        (aggregate(col("_sx"), lit(0.0), (a, s) => a + s.getField("x"))
          / col("_n")).as("_m"))

  /** [[orderedMeans]] with the chunked-range two-level fold (the
    * [[labelCentroids]] `chunkIds` mitigation): per-chunk id-ordered
    * partials, then partials folded in chunk order — collected state
    * bounded, result independent of partitioning. */
  private def orderedMeansChunked(chunkIds: Long)(assigned: DataFrame): DataFrame =
    assigned
      .select(col("centroid_id"), col("id"), posexplode(col("vec")).as(Seq("_d", "_x")))
      .withColumn("_chunk", expr(s"id DIV ${chunkIds}L")) // integer DIV: exact at any id magnitude
      .groupBy("centroid_id", "_d", "_chunk")
      .agg(
        aggregate(
          sort_array(collect_list(struct(col("id").as("i"), col("_x").as("x")))),
          lit(0.0), (a, s) => a + s.getField("x")).as("_ps"),
        count(lit(1)).as("_n"))
      .groupBy("centroid_id", "_d")
      .agg(
        aggregate(
          sort_array(collect_list(struct(col("_chunk").as("c"), col("_ps").as("s")))),
          lit(0.0), (a, s) => a + s.getField("s")).as("_sum"),
        sum("_n").as("_nn"))
      .select(col("centroid_id"), col("_d"),
        (col("_sum") / col("_nn")).as("_m"))

  /** The centroid-count growth rule for [[semanticDedup]] — the d10
    * `planesFor` lesson applied to clustering-as-candidate-generation.
    * Assignment costs n*K dot products (broadcast centroids against every
    * vector); within-cluster pair expansion costs ~n^2/K with balanced
    * clusters. The sum n*K + n^2/K is minimized at K = sqrt(n) — a FIXED
    * K at growing n is an all-pairs join in disguise (n^2/16 at the old
    * default), while K growing faster than sqrt(n) pays it back in
    * assignment work. Floor 16 (fewer buckets is never worth it), clamp
    * at `maxCentroids` — the centroid table is collected to the driver
    * and broadcast, so an unbounded K is its own scale bug (10^6 centroid
    * vectors = a GB-scale broadcast and an O(n*10^6) assignment). The
    * clamp is LOUD, because past it the per-cluster width grows again and
    * the caller should rely on the hot-cluster guard (or pre-partition
    * the corpus and dedup per partition). */
  private[graft] def centroidsFor(n: Long, maxCentroids: Int = 4096): Int = {
    require(maxCentroids >= 1, s"maxCentroids=$maxCentroids must be >= 1")
    val exact = math.ceil(math.sqrt(math.max(0L, n).toDouble)).max(16.0)
    val k = math.min(exact, maxCentroids.toDouble).toInt
    if (exact > maxCentroids)
      System.err.println(
        f"[graft-similarity] centroidsFor(n=$n%d): sqrt rule wants " +
          f"$exact%.0f centroids; clamped to maxCentroids=$maxCentroids%d " +
          "(expected cluster width grows past sqrt(n) — the hot-cluster " +
          "guard in semanticDedup reroutes oversized clusters through " +
          "banded LSH).")
    k
  }

  /** `chunkIds` for the chunked-range ordered folds, derived like
    * [[centroidsFor]]'s sqrt rule (round 18 — removes the last
    * remember-a-knob hazard on the quality paths): ids are chunked
    * into ranges of this many id VALUES, so per-cell collected state
    * is bounded by max(chunkIds, width / chunkIds) rows — ~sqrt(width)
    * balances the two levels. Wire it by passing `chunkIds = -1`
    * ("auto") to [[labelCentroids]] / [[kmeansCentroidsOrdered]] /
    * [[pqCentroidsKMeans]] (and [[IndexSpec]]'s `pqChunkIds`),
    * which derives the width from the corpus id range in ONE (min,
    * max) aggregate and logs the derived value; 0 keeps the flat fold
    * — the oracle face, and still the default. Like every chunking,
    * the derived fold is deterministic at any partitioning and
    * bit-equal to the flat fold exactly where sums are exact. */
  private[graft] def chunkIdsFor(minId: Long, maxId: Long): Long = {
    require(maxId >= minId, s"empty id range: maxId=$maxId < minId=$minId")
    math.max(1L, math.ceil(math.sqrt((maxId - minId + 1).toDouble)).toLong)
  }

  /** `chunkIds < 0` ("auto") resolves via [[chunkIdsFor]] over the
    * corpus id range; any other value passes through (0 = flat fold). */
  private def resolveChunkIds(vectors: DataFrame, idCol: String,
                              chunkIds: Long): Long =
    if (chunkIds >= 0L) chunkIds
    else {
      val r = vectors.agg(min(col(idCol).cast("long")),
        max(col(idCol).cast("long"))).head()
      if (r.isNullAt(0)) 0L // empty corpus: nothing to bound
      else {
        val c = chunkIdsFor(r.getLong(0), r.getLong(1))
        System.err.println(
          s"[graft-similarity] chunkIds=auto over ids [${r.getLong(0)}, " +
            s"${r.getLong(1)}]: derived chunkIds=$c (~sqrt of the " +
            "id-range width; per-cell fold state bounded at ~that many " +
            "rows per level)")
        c
      }
    }

  /** [[semanticDedup]] with K derived from the input size via
    * [[centroidsFor]] — one count pass, then the clustered dedup. The
    * recommended entry point for callers that don't know n: pair work
    * stays ~n^1.5 total (vs n^2/16 with the fixed default) and the
    * hot-cluster guard is on (auto width). */
  def semanticDedupAuto(vectors: DataFrame, threshold: Double = 0.3,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        maxCentroids: Int = 4096): DataFrame =
    semanticDedup(vectors, centroidsFor(vectors.count(), maxCentroids),
      threshold, idCol, vecCol)

  /** Semantic dedup (the SemDeDup shape): cluster the embeddings with the
    * deterministic IVF coarse quantizer, then compare pairs ONLY within a
    * cluster — cosine >= `threshold` marks a semantic duplicate, and of
    * each duplicate pair the larger id is dropped (so the kept set is the
    * ids not dominated by any smaller-id near-twin in their cluster).
    * Output per vector: (vec_id, centroid_id, keep).
    *
    * This is the trick that makes embedding-level dedup feasible at
    * corpus scale: all-pairs is O(n^2); within-cluster pairs are
    * O(sum b_i^2), and with n/K-sized balanced buckets that is n^2/K —
    * the clustering IS the candidate generation. The pair join shuffles
    * both sides once on centroid_id; norms are computed scan-side before
    * the join (once per vector, not per pair). Pick K with
    * [[centroidsFor]] (or call [[semanticDedupAuto]]): a fixed K at
    * growing n is an all-pairs join in disguise. Unlike LSH,
    * within-cluster comparison is recall-lossy only across cluster
    * boundaries (near-twins almost always share a nearest centroid;
    * SemDeDup accepts exactly that).
    *
    * HOT-CLUSTER GUARD: real corpora are not balanced — one mega-cluster
    * (boilerplate, templated text) can hold most of the corpus, and its
    * all-pairs expansion alone breaks the n^2/K bound no K rule can
    * save. Clusters wider than `maxClusterWidth` (0 = auto: 16x the
    * mean width, floor 4096; Long.MaxValue disables) are rerouted
    * through the banded hyperplane LSH
    * ([[Dedup.embeddingNearDupsBanded]], (L, r) from [[Dedup.bandsFor]]
    * at the hot row count) with candidates restricted back to
    * same-cluster pairs — within-bucket expansion bounded by the LSH
    * cost rule instead of cluster width. The reroute is LOUD and trades
    * the exact within-cluster comparison for LSH recall (>= the
    * bandsFor target at the threshold) ONLY on the oversized clusters;
    * cold clusters keep the exact path, and at test scale the auto
    * width never engages, so oracle results are unchanged. */
  def semanticDedup(vectors: DataFrame, nCentroids: Int = 16,
                    threshold: Double = 0.3,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    maxClusterWidth: Long = 0L): DataFrame = {
    val ss = vectors.sparkSession
    import ss.implicits._
    // The K centroid vectors are tiny: collect them to a LITERAL frame
    // (the lloyd-driver pattern) so the three consumers below don't each
    // re-run the centroid-selection scan; values are byte-identical.
    val centroids = ivfIndex(vectors, nCentroids, idCol, vecCol)._1
      .as[(Long, Seq[Double])].collect().toSeq
      .toDF("centroid_id", "cvec")
    val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
    // Both self-join sides and the output read the assignment: cache it
    // (released via Dedup.releaseShingleCaches — at corpus scale the
    // assignment is persisted storage, exactly as ivfTopK documents).
    val assigned = assign(v, centroids).cache()
    Dedup.registerCache(assigned)
    // Cluster widths: one aggregate over the cached assignment, K rows.
    // Driver-held by construction (K is bounded by centroidsFor's clamp).
    // Long.MaxValue disables the guard entirely — no cluster can exceed
    // the bound, so the full pass over the assignment is skipped.
    val widths: Array[(Long, Long)] =
      if (maxClusterWidth == Long.MaxValue) Array.empty
      else assigned.groupBy("centroid_id").agg(count(lit(1)).as("_w"))
        .as[(Long, Long)].collect()
    val width =
      if (maxClusterWidth > 0L) maxClusterWidth
      else {
        val mean = if (widths.isEmpty) 0.0
                   else widths.map(_._2).sum.toDouble / widths.length
        math.max(4096L, math.ceil(16.0 * mean).toLong)
      }
    val hot = widths.filter(_._2 > width).map(_._1)
    val a = assigned.withColumn("_n", norm(col("vec")))
    def pairsOf(side: DataFrame): DataFrame = {
      val x = side.select(col("centroid_id"), col("id").as("_ida"),
        col("vec").as("_va"), col("_n").as("_na"))
      val y = side.select(col("centroid_id"), col("id").as("_idb"),
        col("vec").as("_vb"), col("_n").as("_nb"))
      x.join(y, Seq("centroid_id"))
        .filter(col("_ida") < col("_idb"))
        .filter(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))
          >= threshold)
        .select(col("_idb").as("id"))
    }
    val dropped = (if (hot.isEmpty) pairsOf(a)
    else {
      val hotRows = widths.filter(w => hot.contains(w._1)).map(_._2).sum
      System.err.println(
        s"[graft-similarity] semanticDedup: ${hot.length} cluster(s) wider " +
          s"than $width ($hotRows rows total) rerouted through banded LSH " +
          "— exact within-cluster comparison kept for the others.")
      val cold = pairsOf(a.filter(!col("centroid_id").isin(hot: _*)))
      // Banded LSH over ALL hot rows at once (one run, not one per
      // cluster); candidates that straddle two hot clusters are then
      // dropped by the same-cluster filter, preserving the SemDeDup
      // contract that only within-cluster pairs count.
      val hotV = assigned.filter(col("centroid_id").isin(hot: _*))
      val (tables, r) = Dedup.bandsFor(hotRows, threshold)
      // maxOccupancy=None: this IS the dup-heavy reroute — (L, r)
      // derive from hotRows, so a hot bucket here is the data
      // (near-identical vectors), and its pairs are exactly what
      // SemDeDup must drop. The occupancy observe() metric still
      // reports the candidate load.
      val hotPairs = Dedup.embeddingNearDupsBanded(
          hotV.select(col("id"), col("vec")), "id", "vec", tables, r, threshold,
          maxOccupancy = None)
      val asg = assigned.select(col("id"), col("centroid_id"))
      val hotDropped = hotPairs
        .join(asg.select(col("id").as("id_a"), col("centroid_id").as("_ca")), "id_a")
        .join(asg.select(col("id").as("id_b"), col("centroid_id").as("_cb")), "id_b")
        .filter(col("_ca") === col("_cb"))
        .select(col("id_b").as("id"))
      cold.union(hotDropped)
    }).distinct()
    assigned.join(dropped.withColumn("_dropped", lit(true)), Seq("id"), "left_outer")
      .select(col("id").as(idCol), col("centroid_id"),
        col("_dropped").isNull.as("keep"))
  }

  /** IVF-probed approximate top-k: per query, search only the `nProbe`
    * nearest centroids' buckets. At 100 TB the assigned table is written
    * partitioned by centroid_id, so a probe is a partition-pruned scan —
    * that storage layout is [[ivfIndexWrite]] and the pruned probe over
    * it is [[ivfTopKIndexed]] (round 14: previously this sentence was a
    * claim without an implementation). */
  def ivfTopK(centroids: DataFrame, assigned: DataFrame, queries: DataFrame,
              k: Int, nProbe: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    scoreProbes(probeRank(queryVectors(queries, idCol, vecCol), centroids, nProbe),
      assigned, k)

  /** The (query_id, qvec) frame every probe face ranks and scores. */
  private def queryVectors(queries: DataFrame, idCol: String, vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qvec"))

  /** Per-query nProbe nearest centroids of a [[queryVectors]] frame —
    * the probes frame both IVF probe faces share: (query_id, qvec, _qn,
    * centroid_id), one row per (query, probed bucket). Centroids
    * broadcast; ranks by (cosine desc, centroid_id asc). */
  private def probeRank(q: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame =
    q.withColumn("_qn", norm(col("qvec")))
      .crossJoin(broadcast(centroids))
      .select(col("query_id"), col("qvec"), col("_qn"), col("centroid_id"),
        cosine(col("qvec"), col("cvec")).as("_sim"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("_sim").desc, col("centroid_id").asc)))
      .filter(col("_rn") <= nProbe)
      .select("query_id", "qvec", "_qn", "centroid_id")

  /** The probes of one served-index probe, as its scoring join takes
    * them: one row per (query, probed bucket); the distinct probed
    * bucket ids, in the order the codes scan's `isin` lists them; and
    * whether every row belongs to one query (known on the driver path
    * only). */
  private final case class Probes(frame: DataFrame, probedIds: Seq[Any],
                                  oneQuery: Boolean)

  /** The distributed probes: `probes` is cut once by a localCheckpoint,
    * because it feeds both the probed-id pull and the scoring join's
    * broadcast side, and without the cut its subtree ran once per
    * consumer. */
  private def checkpointedProbes(probes: DataFrame): Probes = {
    val cut = probes.localCheckpoint(eager = true)
    Probes(cut, cut.select("centroid_id").distinct().collect().map(_.get(0)).toSeq,
      oneQuery = false)
  }

  /** Most (query x centroid) rows [[localProbes]] ranks on the driver:
    * 16 queries against the largest quantizer (4,096 centroids), or
    * 4,096 queries against 16. */
  private val LocalProbeMaxCross = 65536L

  /** The probes of a query frame whose rows already sit on the driver,
    * built there with no Spark job. `q` is (query_id, qvec) and
    * `centroids` the served quantizer rows; `payload` are the columns of
    * the probes frame, over (query_id, qvec, centroid_id, cvec).
    *
    * It runs when both frames optimize to a `LocalRelation` and the
    * cross has at most [[LocalProbeMaxCross]] rows. The queries x
    * centroids cross is a driver-side `LocalRelation`, and the cosine
    * over it and then the payload over the kept rows are the same
    * Catalyst expressions the distributed path runs, evaluated through
    * their interpreted `eval` (ConvertToLocalRelation). Each query keeps
    * its first `nProbe` centroids in the distributed window's order,
    * (cosine desc, centroid_id asc), compared by Catalyst's own
    * `InterpretedOrdering`: NaN sorts largest, -0.0 equals 0.0, a null
    * cosine sorts last. Queries are grouped by the same ordering's
    * equality, as the window partitions them. The probed ids come from
    * the kept rows, so there is no checkpoint and no id pull. None when
    * the frames are not local or the cross is over the bound: the
    * caller then builds the distributed probes. */
  private def localProbes(spark: org.apache.spark.sql.SparkSession,
                          q: DataFrame, centroids: DataFrame, nProbe: Int,
                          payload: Seq[Column]): Option[Probes] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{Ascending,
      AttributeReference, Descending, InterpretedOrdering, RowOrdering, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.graftbridge.Bridge
    def local(df: DataFrame): Option[LocalRelation] =
      df.queryExecution.optimizedPlan match {
        case l: LocalRelation if !l.isStreaming => Some(l)
        case _ => None
      }
    for {
      ql <- local(q)
      cl <- local(centroids.select("centroid_id", "cvec"))
      if ql.data.size.toLong * cl.data.size <= LocalProbeMaxCross &&
        RowOrdering.isOrderable(ql.output.head.dataType)
    } yield {
      val qs = ql.data.map(_.toSeq(ql.schema))
      val cs = cl.data.map(_.toSeq(cl.schema))
      val cross = (for (qr <- qs; cr <- cs) yield qr ++ cr).toVector.zipWithIndex
        .map { case (vs, ix) => InternalRow.fromSeq(vs :+ ix) }
      val crossOutput = (ql.output ++ cl.output).map(_.newInstance()) :+
        AttributeReference("_ix", org.apache.spark.sql.types.IntegerType,
          nullable = false)()
      def crossFrame(rows: Seq[InternalRow]) = Bridge.localFrame(spark, crossOutput, rows)
      val sims = crossFrame(cross).select(col("query_id"), col("centroid_id"),
          cosine(col("qvec"), col("cvec")).as("_sim"), col("_ix"))
        .queryExecution.executedPlan
      val Seq(qid, cid, sim, _) = sims.output
      val sameQuery = new InterpretedOrdering(Seq(SortOrder(qid, Ascending)), sims.output)
      val rankOrder = new InterpretedOrdering(Seq(SortOrder(qid, Ascending),
        SortOrder(sim, Descending), SortOrder(cid, Ascending)), sims.output)
      val ranked = sims.executeCollect().sorted(rankOrder)
      var queriesSeen = 0
      var rank = 0
      val kept = ranked.indices.flatMap { i =>
        if (i == 0 || sameQuery.compare(ranked(i - 1), ranked(i)) != 0) {
          queriesSeen += 1
          rank = 0
        }
        rank += 1
        if (rank <= nProbe) Some(cross(ranked(i).getInt(3))) else None
      }
      val toScala = CatalystTypeConverters.createToScalaConverter(cid.dataType)
      val cidIx = ql.output.length
      val probedIds = kept.map(r => toScala(r.get(cidIx, cid.dataType))).distinct
      val probes = crossFrame(kept).select(payload: _*).queryExecution.executedPlan
      Probes(Bridge.localFrame(spark, probes.output.map(_.newInstance()),
          probes.executeCollect().toSeq),
        probedIds, oneQuery = queriesSeen == 1)
    }
  }

  /** Exact-cosine scoring of a probes frame against the probed buckets'
    * rows: candidates restricted to each query's OWN buckets via the
    * centroid_id join, rank 1 = nearest, ties by id. */
  private def scoreProbes(probes: DataFrame, assigned: DataFrame,
                          k: Int, oneQuery: Boolean = false): DataFrame = {
    val scored = probes
      .join(assigned.withColumn("_n", norm(col("vec"))), Seq("centroid_id"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        (dot(col("vec"), col("qvec")) / (col("_n") * col("_qn"))).as("cosine"))
    topKPerQuery(scored, col("cosine").desc, k, oneQuery)
      .select("query_id", "rank", "id", "cosine")
  }

  /** Each query's first k candidates of `scored` by `score`, ties by
    * id, numbered in `rank` from 1. With `oneQuery` (every row has one
    * query_id) a bounded top-k runs under the per-query window: its
    * TakeOrderedAndProject is one job, and its single-partition output,
    * already ordered as the window wants, needs no exchange and no sort.
    * It keeps exactly the rows the window keeps: they are the first k in
    * the same total order. */
  private def topKPerQuery(scored: DataFrame, score: Column, k: Int,
                           oneQuery: Boolean): DataFrame = {
    val bounded =
      if (oneQuery && k > 0) scored.orderBy(col("query_id"), score, col("id").asc).limit(k)
      else scored
    bounded.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(score, col("id").asc)))
      .filter(col("rank") <= k)
  }

  /** How an index is BUILT — the one construction recipe both derived
    * builds take ([[ivfIndexWrite]] for the plain layout,
    * [[pqIndexWrite]] for IVF-PQ), written verbatim into build_meta so a
    * trigger-fired [[ivfIndexMaintain]] rebuild replays it (round 18: a
    * maintenance daemon needs no record of how the index was built —
    * the index carries it; without the record every quality build
    * silently downgraded to the stride form on its first fire).
    * Indexes written before round 18 lack the columns and read as the
    * defaults — exactly the rebuild they already received.
    *
    * `seeding` — the coarse quantizer:
    *  - "stride" (default): the deterministic min-id-anchored stride
    *    sample ([[ivfIndex]] — the oracle-replayable form), Lloyd-refined
    *    by `kmeansIterations` > 0 ([[ivfIndexKMeans]]).
    *  - "reservoir": the `seed` hash-coin uniform sample
    *    ([[ivfSeedsReservoir]]), then `kmeansIterations` Lloyd rounds.
    *  - "kmeans_parallel": kmeans|| seeds ([[ivfSeedsKMeansParallel]]:
    *    `rounds`, `oversample`, `seed`), then `kmeansIterations` Lloyd
    *    rounds ([[ivfIndexKMeansParallel]]).
    *  - "given": what [[ivfIndexWriteWith]] / [[pqIndexWriteWith]]
    *    record for a caller-supplied quantizer. Its construction is
    *    unknowable, so it is never an input to a derived build: a cold
    *    maintenance fire warns and rebuilds with `IndexSpec()`.
    *
    * Defaults: `kmeansIterations` 0, `rounds` 2, `oversample` 2.0,
    * `seed` 42, `pqKmeansIterations` 0, `pqChunkIds` 0, `encoding`
    * "raw", `sampleMultiple` 8 — the per-seeding build defaults, with
    * one exception: a kmeans|| build defaults to 2 Lloyd iterations, so
    * pass `kmeansIterations = 2` with it (the field's default, 0, is
    * every other seeding's).
    *
    * PQ-only fields ([[ivfIndexWrite]] rejects them):
    *  - `pqKmeansIterations` > 0 Lloyd-refines the subspace codebook
    *    ([[pqCentroidsKMeans]], with `pqChunkIds` > 0 its chunked
    *    ordered fold); 0 keeps the stride codebook ([[pqCentroids]]).
    *  - `encoding` "raw": codes quantize the vectors. "residual"
    *    (textbook IVFADC): the codebook trains on, and the codes
    *    quantize, each vector MINUS its assigned centroid, so the same
    *    m x ksub budget spends no bits re-describing the bucket's common
    *    direction; build_meta's `residual` flag tells every probe and
    *    append how to read the codes. Residual wins exactly when the
    *    quantizer carries information the codebook cannot (clustered
    *    corpora) and LOSES on near-orthogonal noise, where subtracting an
    *    unrelated centroid adds energy (||v - c||^2 ~= ||v||^2 + ||c||^2;
    *    SCALE.md round 15). "auto" makes that choice at build time: both
    *    books train against one shared quantizer, each one's summed
    *    encode error is measured over a deterministic min-id-anchored
    *    id-stride EVALUATION sample of ~`ksub * sampleMultiple` rows
    *    (wider than the ksub-row training stride, so neither book
    *    self-codes its sample to zero), and the lower error's layout is
    *    written — the losing book never encodes the corpus. A
    *    maintenance replay re-runs the chooser at the recorded width
    *    (drift can move the regime boundary; the procedure IS the
    *    record).
    *
    * Reachable builds (one `require`): "residual" and "auto" encode
    * only stride-seeded quantizers; "given" carries no knob; `rounds` /
    * `oversample` are kmeans||'s, `seed` the hash-coin seedings', and
    * `sampleMultiple` (>= 1) auto's — anything else raises. */
  final case class IndexSpec(seeding: String = "stride",
                             kmeansIterations: Int = 0,
                             rounds: Int = 2,
                             oversample: Double = 2.0,
                             seed: Long = 42L,
                             pqKmeansIterations: Int = 0,
                             pqChunkIds: Long = 0L,
                             encoding: String = "raw",
                             sampleMultiple: Int = 8) {
    require(((seeding, encoding) match {
        case ("stride", "raw" | "residual" | "auto") => true
        case ("reservoir" | "kmeans_parallel", "raw") => true
        case ("given", "raw") =>
          kmeansIterations == 0 && pqKmeansIterations == 0 && pqChunkIds == 0L
        case _ => false
      }) &&
      (seeding == "kmeans_parallel" || (rounds == 2 && oversample == 2.0)) &&
      (seeding == "reservoir" || seeding == "kmeans_parallel" || seed == 42L) &&
      (if (encoding == "auto") sampleMultiple >= 1 else sampleMultiple == 8),
      s"$this is not a buildable index: residual/auto encoding needs " +
        "stride seeding, \"given\" carries no knob, rounds/oversample " +
        "are kmeans_parallel's, seed reservoir's or kmeans_parallel's, " +
        "sampleMultiple (>= 1) auto's")
  }

  private val QualityOnlyCols = Seq("seeding", "kmeans_iterations",
    "seed_rounds", "seed_oversample", "seed", "pq_kmeans_iterations",
    "pq_chunk_ids", "auto", "sample_multiple")
  private val QualityCols = "built_n" +: QualityOnlyCols

  /** A persisted index's build_meta row ([[commitBuild]] writes one per
    * build): `built_n` (the staleness denominator), the residual flag
    * (PQ layout only — plain rows carry no codes), and the stored
    * [[IndexSpec]]. */
  private final case class BuildMeta(row: org.apache.spark.sql.Row, residual: Boolean) {
    def builtN: Long = row.getAs[Long]("built_n")
    def spec: IndexSpec = IndexSpec(row.getAs[String]("seeding"),
      row.getAs[Int]("kmeans_iterations"), row.getAs[Int]("seed_rounds"),
      row.getAs[Double]("seed_oversample"), row.getAs[Long]("seed"),
      row.getAs[Int]("pq_kmeans_iterations"), row.getAs[Long]("pq_chunk_ids"),
      if (row.getAs[Boolean]("auto")) "auto"
      else if (residual) "residual" else "raw",
      row.getAs[Int]("sample_multiple"))
  }

  /** The build_meta row of the index whose row table is `table` — the
    * ONE meta read, shared by staleness, maintenance, the
    * appends' encoding and the probes' geometry. A meta that holds no
    * row, or a PQ meta with a null flag (a crashed partial overwrite),
    * raises a NAMED error instead of a bare NoSuchElementException or a
    * silent raw default — a residual index probed as raw returns wrong
    * neighbors with no error, and an append would mix encodings
    * permanently (round-17 review finding). */
  private def buildMetaOf(spark: org.apache.spark.sql.SparkSession,
                          dir: String, table: String): BuildMeta = {
    val path = sidecarPath(dir, table, "build_meta.parquet")
    val pq = table == "codes.parquet"
    spark.read.parquet(path).head(1).headOption
      .filter(r => !pq || !r.isNullAt(r.fieldIndex("residual")))
      .map(r => BuildMeta(r, pq && r.getAs[Boolean]("residual")))
      .getOrElse(throw new IllegalStateException(
        s"$path exists but holds no " +
          (if (pq) "residual flag row" else "build record row") +
          " — a crashed/partial meta write; how the index was built is " +
          "unknowable, rebuild it (ivfIndexWrite/pqIndexWrite) before " +
          "probing, appending or maintaining it"))
  }

  /** Persist an IVF index in the layout [[ivfTopK]]'s scale note
    * promises: `<dir>/assigned.parquet` PARTITIONED BY centroid_id —
    * one directory per bucket, so a probe over the persisted index is
    * a partition-PRUNED scan (directory-level: unprobed buckets
    * contribute zero bytes read, zero tasks — not a data filter
    * evaluated per row) — with the K-row quantizer and the build_meta
    * record riding INSIDE that table under the hidden `_graft/` subdir
    * (they commit in the same single rename as the rows —
    * [[commitRowTable]]; [[rowTableOf]] is the one layout check every
    * face runs). This is the 100-TB
    * serving shape: the index builds once (the expensive assign pass
    * over the corpus), then every query batch reads only its nProbe
    * buckets. `spec` is the coarse quantizer's recipe ([[IndexSpec]]).
    *
    * SINGLE-WRITER per index dir, like EVERY write face here (builds,
    * appends, maintenance — the [[commitRowTable]] contract): an
    * append racing a rebuild would get its batch stamped consumed
    * while its rows miss the rebuild's corpus — silently dropped from
    * serving. Concurrent readers are sanctioned. */
  def ivfIndexWrite(vectors: DataFrame, dir: String, nCentroids: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    spec: IndexSpec = IndexSpec()): Unit = {
    require(spec.encoding == "raw" && spec.pqKmeansIterations == 0 &&
        spec.pqChunkIds == 0L,
      s"$spec sets PQ-only fields (encoding, pqKmeansIterations, " +
        "pqChunkIds): the plain layout stores no codebook — build it " +
        "with pqIndexWrite")
    buildIndex(vectors, dir, coarseQuantizer(vectors, nCentroids, spec,
      idCol, vecCol), None, idCol, vecCol, spec)
    ()
  }

  /** [[ivfIndexWrite]] with a GIVEN quantizer — the plain layout's twin
    * of [[pqIndexWriteWith]]: persist any centroid table (a prior
    * index's stored geometry for a frozen-quantizer rebuild, a
    * quantizer derived outside this module) and assign the corpus
    * against it. Records `seeding = "given"` (see [[IndexSpec]]). */
  private[graft] def ivfIndexWriteWith(vectors: DataFrame, dir: String,
                                       centroids: DataFrame,
                                       idCol: String = "vec_id",
                                       vecCol: String = "embedding"): Unit = {
    buildIndex(vectors, dir, centroids, None, idCol, vecCol,
      IndexSpec(seeding = "given"))
    ()
  }

  /** The coarse quantizer `spec`'s seeding derives — the ONE seeding
    * dispatch, shared by the build faces and maintenance's cold fires. */
  private def coarseQuantizer(vectors: DataFrame, nCentroids: Int,
                              spec: IndexSpec, idCol: String,
                              vecCol: String): DataFrame = spec.seeding match {
    case "stride" =>
      if (spec.kmeansIterations > 0)
        ivfIndexKMeans(vectors, nCentroids, spec.kmeansIterations, idCol,
          vecCol)._1
      else ivfIndex(vectors, nCentroids, idCol, vecCol)._1
    case "reservoir" =>
      val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
      val seeds = ivfSeedsReservoir(vectors, nCentroids, spec.seed, idCol,
        vecCol)
      if (spec.kmeansIterations > 0)
        lloyd(v, seeds, spec.kmeansIterations, avgMeans)
      else seeds
    case "kmeans_parallel" =>
      ivfIndexKMeansParallel(vectors, nCentroids, spec.rounds,
        spec.kmeansIterations, spec.oversample, spec.seed, idCol, vecCol)._1
    case other => throw new IllegalArgumentException(
      s"seeding = \"$other\" records a caller-supplied quantizer — build " +
        "with ivfIndexWriteWith / pqIndexWriteWith")
  }

  /** The subspace codebook `spec` trains over `vectors` — the ONE
    * codebook dispatch (raw vectors or residual rows alike). */
  private def codebookOf(vectors: DataFrame, m: Int, ksub: Int,
                         idCol: String, vecCol: String,
                         spec: IndexSpec): DataFrame =
    if (spec.pqKmeansIterations > 0)
      pqCentroidsKMeans(vectors, m, ksub, spec.pqKmeansIterations, idCol,
        vecCol, spec.pqChunkIds)
    else pqCentroids(vectors, m, ksub, idCol, vecCol)

  /** The one derived build: the plain layout (`pq` empty) or IVF-PQ
    * with (m, ksub) and `spec`'s encoding, over an already-derived
    * coarse quantizer ([[coarseQuantizer]]). Returns whether residual
    * codes were written.
    *
    * Residual and auto builds cache the residual frame: it feeds the
    * residual codebook, the chooser's evaluation sample, and (when
    * residual is written) the encode scan — unpersisted it would re-run
    * the assign pass per consumer (round-16 review). The quantizer is
    * collected ONCE (round 20) and shared by the residual frame and the
    * geometry write. The chooser costs, over a raw build, one extra
    * codebook derivation, two sample-sized encode passes and one
    * combined (count, min-id) aggregate; its min-id anchor keeps the
    * sample non-empty on all-odd ids (a dedup survivor set), which
    * would otherwise zero both errors and silently pick raw. */
  private def buildIndex(vectors: DataFrame, dir: String,
                         centroids: DataFrame, pq: Option[(Int, Int)],
                         idCol: String, vecCol: String,
                         spec: IndexSpec): Boolean = pq match {
    case None =>
      commitBuild(vectors, dir, localCentroids(centroids), None, None,
        idCol, vecCol, spec)
      false
    case Some((m, ksub)) if spec.encoding == "raw" =>
      val book = codebookOf(vectors, m, ksub, idCol, vecCol, spec)
      commitBuild(vectors, dir, localCentroids(centroids),
        Some(localCodebook(book)), None, idCol, vecCol, spec)
      false
    case Some((m, ksub)) =>
      val lc = localCentroids(centroids)
      val res = residualRowsLocal(vectors, lc, idCol, vecCol).cache()
      try {
        val rawBook =
          if (spec.encoding == "auto")
            Some(codebookOf(vectors, m, ksub, idCol, vecCol, spec))
          else None
        val resBook = codebookOf(res, m, ksub, "id", "vec", spec)
        val residual = rawBook.forall { raw =>
          val nm = vectors.agg(count(lit(1)),
            min(col(idCol).cast("long"))).head()
          val (n, minId) = (nm.getLong(0), nm.getLong(1))
          val evalStride = math.max(1L,
            n / math.max(1L, ksub.toLong * spec.sampleMultiple))
          val rawErr = encodeErrorSum(
            vectors.filter((col(idCol).cast("long") - minId) % evalStride === 0),
            raw, vecCol)
          val resErr = encodeErrorSum(
            res.filter((col("id").cast("long") - minId) % evalStride === 0),
            resBook, "vec")
          resErr < rawErr
        }
        if (residual)
          commitBuild(vectors, dir, lc, Some(localCodebook(resBook)),
            Some(res), idCol, vecCol, spec)
        else
          commitBuild(vectors, dir, lc, rawBook.map(localCodebook), None,
            idCol, vecCol, spec)
        residual
      } finally { res.unpersist(); () }
  }

  /** The one build commit: rows, quantizer geometry, the codebook (PQ
    * layout), and build_meta — `built_n` (the staleness denominator),
    * for PQ (m, ksub, residual), and the [[IndexSpec]] record — staged
    * together and committed by one rename with the consumed-cutoff
    * token ([[commitRowTable]], round 20). Rows are the plain layout's
    * assignments (no `book`), the raw codes, or the codes of `res`'s
    * residuals. ONE evaluation each for quantizer and codebook (both
    * arrive collected and feed the assign/encode literals AND their
    * sidecar writes) and ONE corpus pass: `built_n` rides the row write
    * via observe() instead of a separate vectors.count(). */
  private def commitBuild(vectors: DataFrame, dir: String,
                          lc: LocalCentroids, book: Option[LocalCodebook],
                          res: Option[DataFrame], idCol: String,
                          vecCol: String, spec: IndexSpec): Unit = {
    val spark = vectors.sparkSession
    val rows = book match {
      case None => assignLocal(vectors.select(col(idCol).as("id"),
        toDouble(col(vecCol)).as("vec")), lc)
      case Some(lb) => res.fold(
        pqCodeRowsLocal(vectors, lc, lb.tensor, idCol, vecCol))(
        residualCodeRowsLocal(_, lb.tensor))
    }
    val obs = org.apache.spark.sql.Observation()
    val table = if (book.isEmpty) "assigned.parquet" else "codes.parquet"
    commitRowTable(spark, dir, table) { staging =>
      rows.observe(obs, count(lit(1)).as("n"))
        .write.mode("overwrite").partitionBy("centroid_id").parquet(staging)
      lc.df(spark).write.mode("overwrite")
        .parquet(s"$staging/$SidecarDir/centroids.parquet")
      book.foreach(_.df(spark).write.mode("overwrite")
        .parquet(s"$staging/$SidecarDir/pq_codebook.parquet"))
      import spark.implicits._
      val (n, auto) = (obs.get("n").asInstanceOf[Long], spec.encoding == "auto")
      // one literal row per layout: the PQ columns sit between built_n
      // and the record, and a literal keeps the meta write one local scan
      (book match {
        case None =>
          Seq((n, spec.seeding, spec.kmeansIterations, spec.rounds,
              spec.oversample, spec.seed, spec.pqKmeansIterations,
              spec.pqChunkIds, auto, spec.sampleMultiple))
            .toDF(QualityCols: _*)
        case Some(lb) =>
          Seq((n, lb.tensor.length, lb.tensor.headOption.fold(0)(_.length),
              res.nonEmpty, spec.seeding, spec.kmeansIterations, spec.rounds,
              spec.oversample, spec.seed, spec.pqKmeansIterations,
              spec.pqChunkIds, auto, spec.sampleMultiple))
            .toDF(Seq("built_n", "m", "ksub", "residual") ++ QualityOnlyCols: _*)
      }).write.mode("overwrite")
        .parquet(s"$staging/$SidecarDir/build_meta.parquet")
    }
    clearIncTables(spark, dir)
  }

  /** Assign vectors to a GIVEN centroid table (nearest by cosine, ties
    * to the lower centroid_id) — the quantizer applied without
    * recomputing it; output (id, vec double[], centroid_id), the
    * assigned-table schema [[ivfTopK]] consumes. One broadcast pass. */
  private[graft] def ivfAssign(vectors: DataFrame, centroids: DataFrame,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame =
    assign(vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec")),
      centroids)

  /** APPEND new vectors to a persisted index without a rebuild — the
    * serving-path increment at 100 TB (a full rebuild re-encodes the
    * whole corpus; an append encodes only the new shard). Layout-aware
    * ([[shardRows]]): on an [[ivfIndexWrite]] index the shard is
    * assigned against the STORED centroids; on a [[pqIndexWrite]] index
    * it is also PQ-encoded against the STORED codebook — residual-
    * encoded when build_meta says so. One broadcast pass over the shard
    * (O(shard) total), and the rows land INSIDE the existing
    * centroid_id partition directories (dynamic partition append), so
    * the probes' directory-level pruning is untouched. Probing the
    * appended index ≡ probing a one-shot build over the union UNDER THE
    * SAME GEOMETRY (the `*With` faces; spec-pinned on both layouts):
    * the append changes bucket CONTENTS, never bucket GEOMETRY, and
    * codes depend only on the codebook.
    *
    * That fixed geometry is also the staleness trade: appended vectors
    * were not seen by the quantizer, so as the appended fraction grows
    * the centroids drift off the true corpus distribution and a given
    * nProbe scans more wrong buckets for the same recall — the same
    * compact/expire discipline [[graft.streaming.DedupStream]] applies
    * to its sidecars. [[ivfIndexStaleness]] tracks the fraction;
    * re-quantize (a fresh build over the full corpus, or
    * [[ivfIndexMaintain]]) when it passes ~0.5, or earlier if
    * bucket-size skew grows — [[ivfIndexSkew]] measures that second
    * trigger (max/median bucket rows) so both rebuild signals are code,
    * not prose (SCALE.md round 15). Idempotence is the CALLER's:
    * replaying an append duplicates rows (parquet append) —
    * [[ivfIndexAppendBatch]] is the replay-idempotent face.
    * Single-writer per index dir, like every write face here (never
    * run an append concurrently with a rebuild — the [[commitRowTable]]
    * contract). */
  def ivfIndexAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
                     newVectors: DataFrame,
                     idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    // heal a crashed rebuild first (round 19): appending into a base
    // left missing by a crash between the rename-commit's delete and
    // rename would otherwise CREATE a shard-only table that a later
    // heal would then keep (its staging twin rolls back once a final
    // table exists) — cheap no-op when nothing is pending
    val table = healIndexDir(spark, dir)
    shardRows(spark, dir, table, newVectors, idCol, vecCol)
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$dir/$table")
  }

  // ---- product quantization (round 15): the in-bucket compression
  // half of the IVF-PQ serving shape — IVF prunes which buckets a
  // query reads (d09a's partitioned layout), PQ shrinks what each
  // bucket row COSTS: an m-byte code per vector instead of the full
  // float vector (here 64 float32 -> 8 codes, 32x), scanned via
  // per-query lookup tables with zero per-pair vector arithmetic ----

  /** Per-subspace PQ codebook: the vector space is split into `m`
    * contiguous subspaces of dim/m dimensions, and each subspace gets
    * `ksub` centroids taken from the SAME stride-sampled vectors the
    * IVF quantizer uses ([[ivfIndex]]'s deterministic, oracle-replayable
    * rule) — centroid j of subspace s is the j-th sampled vector's s-th
    * slice. Output (sub, cid, cvec), cid = 0-based ordinal in id order.
    * Lloyd refinement per subspace would tighten cells (the
    * [[ivfIndexKMeans]] contrast); the stride form is the deterministic
    * baseline every oracle can replay. Min-id anchored like
    * [[ivfIndex]] (round-18 ADVICE): the sample is never empty on a
    * residue-skewed id layout (all-odd survivor ids), identical on
    * min-id-0 corpora. */
  def pqCentroids(vectors: DataFrame, m: Int = 8, ksub: Int = 16,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && ksub >= 2, s"m=$m, ksub=$ksub out of range")
    val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
    val nm = v.agg(count(lit(1)), min(col("id").cast("long"))).head()
    val n = nm.getLong(0)
    val minId = if (nm.isNullAt(1)) 0L else nm.getLong(1)
    val stride = math.max(1L, n / ksub)
    val samp = v.filter((col("id").cast("long") - minId) % stride === 0)
      .orderBy("id").limit(ksub)
      .withColumn("cid",
        row_number().over(Window.orderBy("id")).cast("int") - 1)
    val dsub = probeDimOf(vectors, vecCol, m)
    samp.select(col("cid"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("vec"))
      .select(col("sub"), col("cid"),
        slice(col("vec"), col("sub") * dsub + 1, lit(dsub)).as("cvec"))
  }

  /** [[pqCentroids]] refined by per-subspace Lloyd rounds — the quality
    * path for the PQ codebook, exactly as [[ivfIndexKMeans]] is for the
    * coarse quantizer: stride sampling quantizes real (non-uniform)
    * corpora poorly, and every Lloyd round weakly decreases the total
    * encode distance (assignment picks the nearest cell, the mean
    * minimizes each cell's squared error), so ADC distances computed
    * against the refined book approximate true distances tighter at the
    * same (m, ksub) budget. Spec pins both: self-coding still holds,
    * and the summed encode distance never increases round over round.
    *
    * Oracle-stable like [[kmeansCentroidsOrdered]] (the d29 pattern):
    * assignment is [[pqEncode]]'s exact rule (squared L2 folded over
    * ascending dims, ties to the LOWEST cid), means are the sequential
    * id-ordered double fold / count (bit-exact cross-engine, unlike
    * avg()), empty cells keep their previous centroid. Per round: one
    * scan-side encode pass (codebook as literals), then a slice explode
    * whose ordered-fold mean carries every member (id, value) pair
    * through the shuffle — the d25 trade: portability over avg()'s
    * map-side partials, NOT a cells-only shuffle. Per-(sub, cid, dim)
    * collected state is the cell's member count (~n/ksub rows — the
    * r5-diagnosed OOM class at corpus scale), so for unbounded corpora
    * pass `chunkIds` > 0: the [[labelCentroids]] chunked-range two-level
    * fold bounds state at max(chunkIds, width/chunkIds) rows per cell,
    * stays deterministic at any partitioning, and is bit-equal to the
    * flat fold wherever sums are exact (spec-pinned on integer vectors)
    * — the flat fold stays the oracle face. The m x ksub book is
    * collected and re-literalized each round (the [[lloyd]] drive).
    * Output (sub, cid, cvec), drop-in for [[pqEncode]] / [[pqTopK]] /
    * [[pqIndexWriteWith]]. */
  def pqCentroidsKMeans(vectors: DataFrame, m: Int = 8, ksub: Int = 16,
                        iterations: Int = 2,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        chunkIds: Long = 0L): DataFrame = {
    require(iterations >= 0, s"iterations=$iterations must be >= 0")
    val spark = vectors.sparkSession
    import spark.implicits._
    val chunk = resolveChunkIds(vectors, idCol, chunkIds)
    val dsub = probeDimOf(vectors, vecCol, m)
    val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
    var book = pqCentroids(vectors, m, ksub, idCol, vecCol)
    for (_ <- 0 until iterations) {
      val means = pqKmeansRoundMeans(v, collectCodebook(book), dsub, chunk)
      val next = book.join(means, Seq("sub", "cid"), "left_outer")
        .select(col("sub"), col("cid"),
          coalesce(col("_mean"), col("cvec")).as("cvec"))
        .as[(Int, Int, Seq[Double])].collect().toSeq
      book = next.toDF("sub", "cid", "cvec")
    }
    book
  }

  /** ONE [[pqCentroidsKMeans]] round's per-(sub, cid) mean frame — the
    * query each round aggregates BEFORE its K-bounded collect, factored
    * out so PlanDump records the real per-round plan (the r20 dumps
    * captured only the collected-table stub; VERDICT evidence-hygiene
    * item). Assignment IS the encoder (same distance, same first-min
    * tie rule — [[codesArray]], native since round 21), so refined
    * books keep the pqEncode contract by construction. Code and slice
    * are emitted from ONE scan-side projection (round 20, guide §2.4):
    * the pre-r20 shape exploded codes, built a second (id, sub, svec)
    * slice relation from its own scan, and shuffle-joined the two back
    * together on (id, sub) — per round. Same (sub, cid, id, dim, _x)
    * cells, zero joins, one scan. */
  /** Plan-audit face of one [[pqCentroidsKMeans]] round against the
    * stride seed book (defaults m=8, ksub=16) — PlanDump's entry. */
  private[graft] def pqKmeansRoundForPlan(vectors: DataFrame): DataFrame = {
    val v = vectors.select(col("vec_id").as("id"),
      toDouble(col("embedding")).as("vec"))
    pqKmeansRoundMeans(v, collectCodebook(pqCentroids(vectors)),
      probeDimOf(vectors, "embedding", 8), chunk = 0L)
  }

  private[graft] def pqKmeansRoundMeans(v: DataFrame,
      bookT: Array[Array[Array[Double]]], dsub: Int,
      chunk: Long): DataFrame = {
      val m = bookT.length
      // the m codes come from ONE native graft_pq_codes evaluation
      // (round 21), projected into `_codes` so the m struct fields
      // reference a column, not m copies of the encoder ( `_codes` is
      // referenced m times and the expression is not
      // CollapseProject-cheap, so the projection stays separate and
      // evaluates once per row); cid values are [[codesArray]]'s exact
      // first-min rule, as before
      val perSub = array((0 until m).map { s =>
        struct(element_at(col("_codes"), s + 1).as("cid"),
          slice(col("vec"), s * dsub + 1, dsub).as("svec"))
      }: _*)
      val cells = v
        .select(col("id"), col("vec"),
          codesArray(col("vec"), bookT).as("_codes"))
        .select(col("id"), posexplode(perSub).as(Seq("sub", "_cs")))
        .select(col("sub"), col("_cs").getField("cid").as("cid"), col("id"),
          posexplode(col("_cs").getField("svec")).as(Seq("dim", "_x")))
      val cellMeans =
        if (chunk <= 0L)
          cells.groupBy("sub", "cid", "dim")
            .agg(
              sort_array(collect_list(struct(col("id").as("i"), col("_x").as("x"))))
                .as("_sx"),
              count(lit(1)).as("_n"))
            .select(col("sub"), col("cid"), col("dim"),
              (aggregate(col("_sx"), lit(0.0), (a, s) => a + s.getField("x"))
                / col("_n")).as("_m"))
        else
          cells.withColumn("_chunk", expr(s"id DIV ${chunk}L")) // integer DIV: exact at any id magnitude
            .groupBy("sub", "cid", "dim", "_chunk")
            .agg(
              aggregate(
                sort_array(collect_list(struct(col("id").as("i"), col("_x").as("x")))),
                lit(0.0), (a, s) => a + s.getField("x")).as("_ps"),
              count(lit(1)).as("_n"))
            .groupBy("sub", "cid", "dim")
            .agg(
              aggregate(
                sort_array(collect_list(struct(col("_chunk").as("c"), col("_ps").as("s")))),
                lit(0.0), (a, s) => a + s.getField("s")).as("_sum"),
              sum("_n").as("_nn"))
            .select(col("sub"), col("cid"), col("dim"),
              (col("_sum") / col("_nn")).as("_m"))
      cellMeans
        .groupBy("sub", "cid")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("_m")))),
          s => s.getField("_m")).as("_mean"))
  }

  /** dim/m with the divisibility check — PQ slices must tile the
    * vector exactly. */
  private def probeDimOf(vectors: DataFrame, vecCol: String, m: Int): Int = {
    val dim = vectors.select(size(col(vecCol)).as("d"))
      .filter(col("d") > 0).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    require(dim > 0, "cannot probe vector dimension from an empty table")
    require(dim % m == 0, s"dim=$dim is not divisible by m=$m subspaces")
    dim / m
  }

  /** Collected codebook as a literal tensor: subspaces x ksub x dsub —
    * a K-bounded driver pull (m x ksub rows), the same budget every
    * centroid operator here pays; literals keep the encode/LUT work
    * scan-side with no join. */
  private def collectCodebook(codebook: DataFrame): Array[Array[Array[Double]]] =
    codebook.select("sub", "cid", "cvec").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray).toArray
      }.toArray

  /** A codebook pulled to the driver ONCE (m x ksub rows), serving both
    * consumers of a PQ build — the encode literal (tensor) and the
    * sidecar write (df) — where the codebook subtree used to re-run per
    * consumer (round 20). */
  private final case class LocalCodebook(
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType) {
    val tensor: Array[Array[Array[Double]]] = {
      val subIx = schema.fieldIndex("sub")
      val cidIx = schema.fieldIndex("cid")
      val vecIx = schema.fieldIndex("cvec")
      rows.groupBy(_.getInt(subIx)).toSeq.sortBy(_._1)
        .map { case (_, rs) =>
          rs.sortBy(_.getInt(cidIx)).map(_.getSeq[Double](vecIx).toArray).toArray
        }.toArray
    }
    def df(spark: org.apache.spark.sql.SparkSession): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def localCodebook(codebook: DataFrame): LocalCodebook =
    LocalCodebook(codebook.collect(), codebook.schema)

  /** The m x ksub ADC lookup table of one vector against a collected
    * codebook: entry (s, j) = squared L2 from the vector's s-th slice
    * to center j, folded over ascending dimensions — the bit-exact
    * cross-engine pattern (d08/d25). One native codegen'd expression
    * ([[graft.functions.PqLut]]) holding the codebook as a reference
    * object; the m x ksub interpreted `aggregate(zip_with(slice ...))`
    * folds it replaced are its bit-equality oracle in VectorExprSpec. */
  private def lutOf(vec: Column, book: Array[Array[Array[Double]]]): Column =
    graft.functions.PqLut.lut(vec, book.map(_.map(_.toSeq).toSeq).toSeq)

  /** PQ-encode vectors against a [[pqCentroids]] codebook: per
    * subspace, the 0-based index of the nearest centroid (squared L2;
    * EXACT-tie goes to the LOWEST cid — `array_position` returns the
    * first occurrence of the minimum). Output (id, sub, code) rows —
    * the storable code table, m * log2(ksub) bits of payload per
    * vector. Scan-side: the codebook rides as literals, no join, no
    * shuffle. On normalized vectors squared-L2 order ≡ cosine order,
    * so PQ serves the cosine family unchanged ([[pqTopK]]). */
  /** The m PQ codes of one vector against a collected codebook, as one
    * scan-side array column — [[pqEncode]]'s exact per-subspace rule
    * (squared L2 folded over ascending dims; EXACT tie to the LOWEST
    * cid, array_position's first-minimum). Shared by the exploded
    * encode face and the stored-layout builders so every code is
    * byte-rule-identical across faces. Round 21: the rule runs as ONE
    * native codegen'd expression ([[graft.functions.PqCodes]]) — the
    * former composition paid m * ksub * dsub interpreted lambda
    * evaluations per row. */
  private def codesArray(vec: Column,
                         book: Array[Array[Array[Double]]]): Column = {
    require(book.length >= 1, "empty codebook")
    graft.functions.PqCodes.codes(vec,
      book.map(_.map(_.toSeq).toSeq).toSeq)
  }

  def pqEncode(vectors: DataFrame, codebook: DataFrame,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val book = collectCodebook(codebook)
    val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
    v.select(col("id"),
      posexplode(codesArray(col("vec"), book)).as(Seq("sub", "code")))
  }

  /** Approximate top-k by ASYMMETRIC DISTANCE COMPUTATION over a PQ
    * code table: each query precomputes one m x ksub lookup table
    * (exact squared L2 from its own slices to every centroid — the
    * query side stays UN-quantized, hence asymmetric), and a
    * candidate's score is m table lookups summed in subspace order —
    * no per-pair vector arithmetic at all. The scan reads the CODE
    * table (m small ints/vector), not the vectors: at 100 TB that is
    * the 32x-less-IO brute-force fallback, and composed with the d09a
    * partitioned layout (store codes per centroid partition) it is the
    * standard IVF-PQ serving shape. Output (query_id, rank, id,
    * adc_dist), rank 1 = nearest, ties by id; `adc_dist` approximates
    * squared L2 — on normalized vectors the induced order approximates
    * the cosine order ([[bruteForceTopK]] is the exact baseline, spec
    * pins recall on planted structure). */
  def pqTopK(codebook: DataFrame, codes: DataFrame, queries: DataFrame,
             k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val book = collectCodebook(codebook)
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("qvec"))
    val withLut = q.select(col("query_id"), lutOf(col("qvec"), book).as("lut"))
    // accept either code-table shape: the stored/array form (id, codes)
    // as pqIndexWrite persists it — the steady-state probe then does
    // ZERO per-call preparation — or pqEncode's exploded (id, sub,
    // code) rows, grouped here once for ad-hoc callers
    val codeArrays =
      if (codes.columns.contains("codes")) codes.select("id", "codes")
      else codes.groupBy("id")
        .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
          s => s.getField("code")).as("codes"))
    // native codegen'd lookup loop on the per-pair hot path — the
    // interpreted HOF fold measured MORE CPU than the 64-dim dot it
    // replaces (SCALE.md; AdcSpec pins bit-equality to the fold)
    val scored = codeArrays.crossJoin(broadcast(withLut))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        graft.functions.AdcLookup.adc(col("codes"), col("lut")).as("adc_dist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "id", "adc_dist")
  }

  /** Persist the composed IVF-PQ index — the standard 100 TB ANN
    * serving shape, both halves of which exist separately above:
    * the IVF quantizer prunes WHICH buckets a query reads
    * ([[ivfIndexWrite]]'s partitioned layout), PQ shrinks what each
    * bucket row COSTS (codes, not vectors). Layout: `codes.parquet` —
    * (id, codes) PARTITIONED BY centroid_id, so the probe scan is
    * directory-pruned AND 32x lighter per row — carrying the IVF
    * quantizer, the subspace codebook, and build_meta as in-table
    * `_graft/` sidecars committed by the same single rename (round 20;
    * [[rowTableOf]] rejects any other layout).
    * Vectors themselves are not stored here: at scale the
    * full-precision table lives elsewhere and is touched only by an
    * optional exact rerank of the top candidates.
    *
    * `spec` ([[IndexSpec]]) is the recipe: quantizer seeding, codebook
    * refinement, and the raw / residual / auto encoding. Returns true
    * when residual codes were written (always false for "raw", always
    * true for "residual", the chooser's outcome for "auto"); build_meta
    * records it either way, so the index stays self-describing and
    * every probe/append face reads it unchanged. Single-writer per
    * index dir, like every write face here ([[ivfIndexWrite]]'s note,
    * the [[commitRowTable]] contract). */
  def pqIndexWrite(vectors: DataFrame, dir: String, nCentroids: Int = 16,
                   m: Int = 8, ksub: Int = 16,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   spec: IndexSpec = IndexSpec()): Boolean =
    buildIndex(vectors, dir, coarseQuantizer(vectors, nCentroids, spec,
      idCol, vecCol), Some((m, ksub)), idCol, vecCol, spec)

  /** [[pqIndexWrite]] with a GIVEN quantizer and codebook — the
    * frozen-geometry rebuild: re-encode any corpus (raw encoding)
    * against centroids and a codebook derived elsewhere (an earlier
    * build, a Lloyd-refined [[pqCentroidsKMeans]] book, a base-subset
    * quantizer in the append spec). [[ivfIndexAppend]] composes
    * per-shard on top; this is the full-rewrite face. Records
    * `seeding = "given"` (see [[IndexSpec]]). */
  private[graft] def pqIndexWriteWith(vectors: DataFrame, dir: String,
                                      centroids: DataFrame, codebook: DataFrame,
                                      idCol: String = "vec_id",
                                      vecCol: String = "embedding"): Unit =
    commitBuild(vectors, dir, localCentroids(centroids),
      Some(localCodebook(codebook)), None, idCol, vecCol,
      IndexSpec(seeding = "given"))

  /** The stored codes-table rows for one corpus slice: (id, codes
    * array, centroid_id) — PQ codes against `codebook`, bucket against
    * `centroids`. Shared by write and append so both layouts are
    * byte-rule-identical. */
  private def pqCodeRows(vectors: DataFrame, centroids: DataFrame,
                         codebook: DataFrame, idCol: String,
                         vecCol: String): DataFrame =
    pqCodeRowsLocal(vectors, localCentroids(centroids),
      collectCodebook(codebook), idCol, vecCol)

  /** [[pqCodeRows]] over collected geometry: the codes array AND the
    * bucket assignment in ONE scan-side projection (round 20 — the
    * former form exploded the codes, re-grouped them by id (a shuffle),
    * and joined a SECOND full assign pass back on id (another shuffle);
    * both shuffles and the second scan are gone, values and column
    * order unchanged: codes ascend by sub exactly as the
    * array_sort(collect_list) rebuild did). */
  private def pqCodeRowsLocal(vectors: DataFrame, lc: LocalCentroids,
                              book: Array[Array[Array[Double]]],
                              idCol: String, vecCol: String): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
    if (lc.isEmpty)
      v.filter(lit(false)).select(col("id"),
        codesArray(col("vec"), book).as("codes"),
        lit(null).cast(lc.cidType).as("centroid_id"))
    else
      v.select(col("id"),
        codesArray(col("vec"), book).as("codes"),
        element_at(lc.cidsLit, lc.nearestIx(col("vec")) + 1)
          .cast(lc.cidType).as("centroid_id"))
  }

  /** Plan-audit face of [[pqCodeRows]] (the stored codes-table frame) —
    * the private build pipeline exposed read-only so PlanDump can
    * record its physical plan (the declared d09e/f/j entries hide it
    * behind a lineage-cutting localCheckpoint). */
  private[graft] def pqCodeRowsForPlan(vectors: DataFrame,
                                       centroids: DataFrame,
                                       codebook: DataFrame): DataFrame =
    pqCodeRows(vectors, centroids, codebook, "vec_id", "embedding")

  /** Per-vector IVF residuals: (id, centroid_id, vec = vector MINUS its
    * assigned centroid) — the quantity textbook IVF-PQ (IVFADC, Jégou
    * et al. 2011) actually codes: residual norms are a fraction of raw
    * norms once the coarse quantizer has absorbed the bucket's common
    * direction, so the same (m, ksub) code budget quantizes residuals
    * tighter than raw vectors. One broadcast assign pass + one
    * scan-side zip_with; exact double subtraction, so the whole
    * residual pipeline stays oracle-replayable. */
  private[graft] def residualRows(vectors: DataFrame, centroids: DataFrame,
                           idCol: String, vecCol: String): DataFrame =
    residualRowsLocal(vectors, localCentroids(centroids), idCol, vecCol)

  /** [[residualRows]] over a collected quantizer: assignment AND the
    * centroid subtraction in ONE scan-side pass (round 20 — the former
    * form paid the assign pass plus a broadcast re-join of the
    * centroids just to fetch cvec back; the winner's slot
    * ([[LocalCentroids.nearestIx]], native since round 21) lets the
    * subtraction read the vector literal positionally). The slot rides
    * its own projection — `_ix` is referenced twice and the argmax is
    * not CollapseProject-cheap, so it computes once per row. Values
    * bit-identical: same cvec by cid, same exact double
    * subtraction. */
  private def residualRowsLocal(vectors: DataFrame, lc: LocalCentroids,
                                idCol: String, vecCol: String): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
    if (lc.isEmpty)
      v.filter(lit(false)).select(col("id"),
        lit(null).cast(lc.cidType).as("centroid_id"), col("vec"))
    else
      v.select(col("id"), col("vec"),
        lc.nearestIx(col("vec")).as("_ix"))
        .select(col("id"),
          element_at(lc.cidsLit, col("_ix") + 1)
            .cast(lc.cidType).as("centroid_id"),
          zip_with(col("vec"),
            element_at(lc.vecsLit, col("_ix") + 1),
            (x, y) => x - y).as("vec"))
  }

  /** (id, codes, centroid_id) rows of the RESIDUAL-encoded layout —
    * the residual twin of [[pqCodeRowsLocal]] over a collected
    * codebook: one projection over the residual frame — the assignment
    * already rides `res`, never recomputed (the former explode +
    * re-group + join-back paid two shuffles through the cache; round
    * 20). */
  private def residualCodeRowsLocal(res: DataFrame,
                                    book: Array[Array[Array[Double]]]): DataFrame =
    res.select(col("id"),
      codesArray(toDouble(col("vec")), book).as("codes"),
      col("centroid_id"))

  /** Summed PQ encode error of `vectors` against `codebook`: per
    * vector, the min-cell squared L2 summed over subspaces —
    * distributed and scan-side like [[pqEncode]] (codebook as
    * literals), one `sum` aggregation. The quantity Lloyd descends and
    * the raw-vs-residual chooser compares. */
  private[graft] def encodeErrorSum(vectors: DataFrame, codebook: DataFrame,
                             vecCol: String): Double = {
    val book = collectCodebook(codebook)
    val m = book.length
    require(m >= 1, "empty codebook")
    val dsub = book.head.head.length
    // per-sub min cell distance as ONE native expression over the
    // slice (round 21; [[graft.functions.MinSqDist]] reproduces the
    // array_min-over-ordered-folds bits — see its scaladoc)
    val errCols = (0 until m).map { s =>
      graft.functions.MinSqDist.minSqDist(
        slice(col("vec"), s * dsub + 1, dsub),
        book(s).map(_.toSeq).toSeq)
    }
    vectors.select(toDouble(col(vecCol)).as("vec"))
      .select(errCols.reduce(_ + _).as("_e"))
      // coalesce: sum over ZERO rows is SQL NULL (an id stride that
      // misses every id — e.g. all-odd ids — yields an empty sample)
      .agg(coalesce(sum("_e"), lit(0.0))).head().getDouble(0)
  }

  /** One shard's serving-index rows against a persisted index's STORED
    * geometry, layout- and encoding-aware: (id, vec, centroid_id) for
    * the plain [[ivfIndexWrite]] layout; (id, codes, centroid_id) for
    * the PQ one — residual-encoded when build_meta says so (the flag is
    * the index's, never re-supplied by the caller). `table` is the
    * healed row table ([[healIndexDir]]); shared by [[ivfIndexAppend]]
    * and [[ivfIndexAppendBatch]] so the plain-append and
    * batch-idempotent faces are byte-rule-identical. The geometry is
    * the probes' [[servedGeometry]]: resolved once per committed build,
    * so a steady append reads no sidecar (it used to re-read the
    * quantizer, the codebook and build_meta on every call), and a
    * rebuild's new sidecar files re-resolve it. */
  private def shardRows(spark: org.apache.spark.sql.SparkSession, dir: String,
                        table: String, newVectors: DataFrame, idCol: String,
                        vecCol: String): DataFrame = {
    val geom = servedGeometry(spark, dir, pq = table != "assigned.parquet")
    if (table == "assigned.parquet")
      assignLocal(newVectors.select(col(idCol).as("id"),
        toDouble(col(vecCol)).as("vec")), geom.centroids)
    else if (geom.residual)
      residualCodeRowsLocal(residualRowsLocal(newVectors, geom.centroids,
        idCol, vecCol), geom.book)
    else pqCodeRowsLocal(newVectors, geom.centroids, geom.book, idCol, vecCol)
  }

  // ---- replay-idempotent serving-index increment (round 17): the
  // plain append above is a parquet append — replaying one under
  // at-least-once delivery duplicates rows, which its scaladoc
  // delegates to "the caller's own discipline". The batch face below
  // closes that seam with the [[graft.streaming.DedupStream]]
  // batch-partition protocol: each shard lands in a batch-SCOPED
  // partition of a sibling increment table, written with OVERWRITE, so
  // a replay rewrites its own rows instead of double-appending ----

  /** The sibling increment table of a serving row table
    * (`assigned_inc.parquet` / `codes_inc.parquet`): batch-scoped
    * appends land here, rebuilds clear it. */
  private def incTableOf(table: String): String =
    table.stripSuffix(".parquet") + "_inc.parquet"

  /** True when the increment table holds at least one batch partition
    * with a parquet file (a bare read of an absent/empty dir cannot
    * infer a schema and would fail instead of returning empty).
    * Short-circuiting nested listing, NOT a recursive glob (round-17
    * review finding: a full `batch=*{@literal /}centroid_id=*` glob
    * sweeps every file of the increment tree on EVERY probe — two full
    * LIST passes per probe on an object store; this walk stops at the
    * first data file). */
  private def hasIncRows(spark: org.apache.spark.sql.SparkSession,
                         incDir: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(incDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(root) && fs.listStatus(root).exists { b =>
      b.isDirectory && b.getPath.getName.startsWith("batch=") &&
        fs.listStatus(b.getPath).exists { c =>
          c.isDirectory && c.getPath.getName.startsWith("centroid_id=") &&
            fs.listStatus(c.getPath).exists(f =>
              f.isFile && f.getPath.getName.endsWith(".parquet"))
        }
    }
  }

  private val IncConsumedToken = "_inc_consumed_upto"
  private val SidecarDir = "_graft"

  /** Where build sidecar `name` of the row table `table` lives:
    * `<dir>/<table>/_graft/<name>`. The coarse quantizer, the PQ
    * codebook, and the build_meta record live INSIDE the row table dir
    * under one hidden `_graft/` subdir — invisible to Spark's file
    * index, partition discovery, and the skew walk alike (one hidden
    * PARENT, not underscore-prefixed leaf names, so a direct read of a
    * sidecar path is an ordinary non-hidden-leaf read — no per-probe
    * ignored-path warnings) — so {rows, geometry, codebook, meta,
    * consumed token} commit in the SAME single `fs.rename`
    * ([[commitRowTable]]): a crash can never leave new geometry over
    * the old row table (the staged geometry rolls back WITH the staged
    * rows), nor roll the quality/built_n record back to the prior
    * build (the meta commits with the rows it describes). A pure path
    * function: [[rowTableOf]] is the one existence check. */
  private def sidecarPath(dir: String, table: String, name: String): String =
    s"$dir/$table/$SidecarDir/$name"

  /** [[sidecarPath]] of the index at `dir`, after the layout check
    * ([[rowTableOf]]) — package-visible so specs inspect stored
    * geometry through the same resolution the faces use. */
  private[graft] def sidecarOf(spark: org.apache.spark.sql.SparkSession,
                               dir: String, name: String): String =
    sidecarPath(dir, rowTableOf(spark, dir), name)

  /** Physically drop both increment siblings — pure GC under the
    * round-19 protocol: by the time a successful rebuild calls this,
    * the committed consumed token already makes every batch at or
    * below it invisible to readers, so a crash at any point inside
    * this face changes nothing a reader sees. */
  private def clearIncTables(spark: org.apache.spark.sql.SparkSession,
                             dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("assigned_inc.parquet", "codes_inc.parquet")
      .map(t => new org.apache.hadoop.fs.Path(s"$dir/$t"))
      .foreach(p => if (fs.exists(p)) { fs.delete(p, true); () })
  }

  /** Max increment batch id VISIBLE in a row table's increment sibling
    * right now — the value a rebuild stamps into its consumed token:
    * plain `batch=N` dir names plus the committed compaction cutoff
    * (the epoch partition represents every batch at or below it). -1
    * when the sibling is absent or empty (nothing to consume). */
  private def maxIncBatchId(spark: org.apache.spark.sql.SparkSession,
                            dir: String, table: String): Long = {
    val incDir = s"$dir/${incTableOf(table)}"
    val root = new org.apache.hadoop.fs.Path(incDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) -1L
    else {
      val plain = fs.listStatus(root).toSeq.flatMap { s =>
        if (s.isDirectory && s.getPath.getName.startsWith("batch="))
          scala.util.Try(
            s.getPath.getName.stripPrefix("batch=").toLong).toOption
        else None
      }.filter(_ >= 0)
      val cutoff = graft.streaming.DedupStream.compactedUpTo(spark, incDir)
      (plain ++ cutoff).foldLeft(-1L)(math.max)
    }
  }

  private def readConsumedToken(fs: org.apache.hadoop.fs.FileSystem,
                                p: org.apache.hadoop.fs.Path): Option[Long] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      // torn/garbage CONTENT = absent (a staging whose token write
      // crashed mid-stream must read as incomplete); an IO error on an
      // EXISTING token propagates LOUDLY instead — swallowing a
      // transient remote-store read failure here would silently
      // un-consume absorbed batches and double-serve their rows
      // (round-19 review finding)
      scala.util.Try(s.toLong).toOption
    }

  /** The committed consumed-cutoff of a row table (None for fresh
    * builds that had nothing to consume, or a torn token): increment
    * batches at or below it are ALREADY IN the base — every reader must
    * skip them and [[healIndexDir]] may physically drop them. */
  private def rowTableConsumedUpTo(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, table: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table/$IncConsumedToken")
    readConsumedToken(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
      .filter(_ >= 0)
  }

  /** RENAME-COMMITTED whole-build rebuild (round 19 closed the
    * increment double-count window; round 20 widens the same rename to
    * the WHOLE BUILD): a rebuild re-encodes the full corpus, so any
    * increment rows are part of that corpus and leaving them visible
    * would double-count them against the new base. Every ordering of
    * separate {row-table write, marker write} driver ops leaves one
    * crash window in which the two disagree — the r17/r18 refinements
    * only moved it. This face makes the set ATOMIC instead: the
    * caller's `write` callback stages the rows AND the build sidecars
    * (quantizer geometry, PQ codebook, build_meta — under the hidden
    * `_graft/` subdir, [[sidecarPath]]) into a
    * `<table>.staging` sibling, the consumed-cutoff token
    * (`_inc_consumed_upto` = the max increment batch id visible when
    * the rebuild started, snapshotted BEFORE any write) is placed
    * INSIDE the staging dir, and one `rename(staging, table)` commits
    * all of it together. From the instant the new rows are readable,
    * the geometry that shaped them, the meta that describes them, and
    * the token declaring their absorbed batches stale are readable
    * too — no driver op sits between any pair.
    *
    * Crash analysis (heal rules in [[healIndexDir]]; the RENAME-ASIDE
    * of the old table — `table` → `table.old`, a single atomic
    * metadata op, never a recursive delete whose partial progress
    * would be indistinguishable from a live table (round-19 review
    * finding) — is the POINT OF NO RETURN): before or during the
    * staging write, or before the token write completes → staging is
    * incomplete (no parseable token) → heal discards it; base,
    * increment, and meta are all still the prior build's (the rebuild
    * simply never happened — re-fires on the next poll). After the
    * token, before the rename-aside → same rollback (the final table
    * still exists, whole). After the rename-aside, before the commit
    * rename → the table is MISSING and a complete staging exists →
    * heal finishes the rename (roll-forward). After the commit
    * rename → committed: readers skip consumed batches via the token;
    * the trailing `.old` delete and the physical clear are both
    * heal-idempotent GC (a crash mid-delete
    * leaves hidden garbage heal sweeps once the final table exists).
    * The token also fixes an
    * adjacent seam the markers never covered: an at-least-once
    * driver's LATE REPLAY of a batch the rebuild absorbed
    * ([[ivfIndexAppendBatch]] re-delivering `batch <= consumed` after
    * the clear) lands invisible instead of double-counting.
    *
    * Round 20 retires the two windows the round-19 protocol documented
    * as open: geometry/codebook no longer precede the commit (they
    * ride inside the staging, so a crash anywhere rolls them back WITH
    * the rows — new geometry can never sit over the old row table),
    * and build_meta no longer trails it (the quality/built_n record
    * commits with the build it describes — no more staleness-skewing
    * rollback to the prior build's record). The one residual caveat:
    * on rename-as-copy object stores the rename is not atomic — the
    * same caveat the [[graft.streaming.DedupStream]] epoch protocol
    * carries; both want a lakehouse table format at that tier.
    *
    * SINGLE-WRITER contract (round-19 ADVICE made explicit): like
    * every write/maintenance face here, at most one writer per index
    * dir at a time. The consumed snapshot is taken at commit entry
    * next to the corpus the caller materialized; an append racing a
    * rebuild would get its batch stamped consumed while its rows miss
    * the corpus — rows silently dropped from serving with no loud
    * failure. Concurrent READERS get per-READ atomicity, not per-CALL:
    * each individual open resolves a whole build (old or new — never a
    * torn table; a listing that raced the rename fails loudly on the
    * missing files), but a multi-action read face that spans the
    * commit — [[ivfPqTopK]] collects geometry, THEN scans codes — can
    * pair the old build's geometry with the new build's rows, silently
    * mispairing buckets. The in-table sidecars (round 20) shrink that
    * window to the one rename but cannot close it in place:
    * single-call coherence under concurrent rebuilds needs a
    * snapshot/versioned layout (the same lakehouse tier as the
    * rename-as-copy caveat above). Probe against a quiesced or cloned
    * dir when a rebuild may be in flight. */
  private def commitRowTable(spark: org.apache.spark.sql.SparkSession,
                             dir: String, table: String)
                            (write: String => Unit): Unit = {
    val fin = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val old = new org.apache.hadoop.fs.Path(s"$dir/$table.old")
    val fs = fin.getFileSystem(spark.sessionState.newHadoopConf())
    // snapshot what this rebuild consumes BEFORE any write: the
    // caller's corpus contains these rows (the full-corpus contract).
    // MONOTONE over the current table's committed token (round-20
    // review finding): a rebuild that runs right after another (two
    // maintenance fires in a row, or an explicit rebuild after one)
    // sees the increment dirs already cleared (maxIncBatchId = -1); a
    // raw snapshot would stamp -1 = "nothing consumed" and a late
    // at-least-once replay of a batch the FIRST rebuild absorbed would
    // land visible, double-counting against a base that already holds
    // its rows. Batches under the old token are in the old base, the
    // old base is in this caller's corpus — carrying the old cutoff
    // forward is exact, not conservative.
    val consumed = math.max(maxIncBatchId(spark, dir, table),
      rowTableConsumedUpTo(spark, dir, table).getOrElse(-1L))
    val staging = new org.apache.hadoop.fs.Path(s"$dir/$table.staging")
    if (fs.exists(staging)) { fs.delete(staging, true); () } // stale attempt
    if (fs.exists(old)) { fs.delete(old, true); () } // prior rebuild's garbage
    write(staging.toString)
    // the token INSIDE staging makes {rows, consumed cutoff} one
    // atomic unit under the rename; its parseable presence is also the
    // staging-complete mark healIndexDir's roll-forward rule keys on
    val out = fs.create(
      new org.apache.hadoop.fs.Path(staging, IncConsumedToken), true)
    try out.write(s"$consumed\n".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // POINT OF NO RETURN: one atomic metadata op, so no crash can
    // leave a PARTIALLY-deleted table that heal would mistake for a
    // live one and roll the staging back against
    if (fs.exists(fin))
      require(fs.rename(fin, old), s"rename-aside $fin -> $old failed")
    require(fs.rename(staging, fin), s"rename $staging -> $fin failed")
    if (fs.exists(old)) { fs.delete(old, true); () } // hidden garbage now
  }

  /** Heal every crash window of the rename-commit rebuild protocol,
    * in dependency order, and return the healed row table
    * ([[rowTableOf]] — the layout check runs after the staging
    * roll-forward, which can restore a missing table, and before
    * anything else is touched) — called FIRST by every
    * maintenance/append face ([[ivfIndexMaintain]],
    * [[ivfIndexAppend]], [[ivfIndexAppendBatch]],
    * [[ivfIndexConsolidate]]; single-writer like them). Read faces
    * never mutate PROTOCOL STATE — they apply the same visibility
    * rules instead; the one sanctioned read-face write is the skew
    * poll's ADVISORY row-count cache ([[writeRowCache]]): never
    * load-bearing, failure-swallowed (a read-only-credential poller
    * just stays footer-bound), unique-tmp rename committed,
    * last-writer-wins under concurrent polls. */
  private def healIndexDir(spark: org.apache.spark.sql.SparkSession,
                           dir: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    // 1. staging roll-forward/back: a COMPLETE staging (parseable
    // token) with NO final table means the crash hit between the
    // rename-aside and the commit rename — finish the rename; any
    // other staging never reached the point of no return — discard it
    // (safe against the final table because the rename-aside is
    // atomic: a present final table is always WHOLE, never a
    // partially-deleted husk). Then sweep a leftover `.old` once a
    // final table exists — a completed rebuild's hidden garbage.
    Seq("assigned.parquet", "codes.parquet").foreach { t =>
      val staging = new org.apache.hadoop.fs.Path(s"$dir/$t.staging")
      val fin = new org.apache.hadoop.fs.Path(s"$dir/$t")
      if (fs.exists(staging)) {
        if (!fs.exists(fin) && readConsumedToken(fs,
            new org.apache.hadoop.fs.Path(staging, IncConsumedToken)).nonEmpty)
          require(fs.rename(staging, fin),
            s"heal rename $staging -> $fin failed")
        else { fs.delete(staging, true); () }
      }
      val old = new org.apache.hadoop.fs.Path(s"$dir/$t.old")
      if (fs.exists(old) && fs.exists(fin)) { fs.delete(old, true); () }
    }
    val table = rowTableOf(spark, dir)
    // 2. physically drop increment batches the base already absorbed
    // (a crashed rebuild's pending clear, or a late at-least-once
    // replay of a consumed batch): plain dirs at or below the token,
    // plus the epoch dir — and its marker — when wholly consumed
    // (folding a consumed batch into a visible epoch would resurrect
    // it, so consolidation heals before it folds)
    rowTableConsumedUpTo(spark, dir, table).foreach { consumed =>
      val incDir = s"$dir/${incTableOf(table)}"
      val incRoot = new org.apache.hadoop.fs.Path(incDir)
      if (fs.exists(incRoot)) {
        val cutoff =
          graft.streaming.DedupStream.compactedUpTo(spark, incDir)
        fs.listStatus(incRoot).foreach { s =>
          val n = s.getPath.getName
          if (s.isDirectory && n.startsWith("batch="))
            scala.util.Try(n.stripPrefix("batch=").toLong).toOption
              .foreach { b =>
                val stale =
                  if (b >= 0) b <= consumed
                  else cutoff.exists(c => b == -(c + 2) && c <= consumed)
                if (stale) { fs.delete(s.getPath, true); () }
              }
        }
        if (cutoff.exists(_ <= consumed)) {
          // epoch gone: its marker goes too (remaining plain batches
          // are > cutoff, so marker-less visibility is identical)
          val m = new org.apache.hadoop.fs.Path(incDir,
            graft.streaming.DedupStream.MarkerName)
          if (fs.exists(m)) { fs.delete(m, false); () }
        }
      }
    }
    table
  }

  /** [[ivfIndexAppend]] made REPLAY-IDEMPOTENT for
    * at-least-once drivers (the [[graft.streaming.EmbedStream]] ingest
    * loop — previously the one unprotected seam in an otherwise
    * exactly-once pipeline): the shard's rows are encoded against the
    * STORED geometry exactly as the plain appends do ([[shardRows]] —
    * layout-aware, residual-aware), but land in a BATCH-SCOPED
    * partition of the increment sibling table,
    * `<rowTable>_inc.parquet/batch=N/centroid_id=.../`, via partition
    * OVERWRITE. Replaying a batchId (Structured Streaming's crash
    * recovery, which re-runs a batch after ANY mid-batch crash)
    * therefore REWRITES that batch's rows — never double-appends, never
    * drops (the [[graft.streaming.DedupStream]] protocol, applied to
    * the serving index; spec drives the crash-between-writes window).
    * Requires a deterministic shard per batchId, which Structured
    * Streaming's offset replay provides. Batch ids are MONOTONE per
    * index dir, ACROSS rebuilds (round 20): every rebuild's committed
    * consumed-cutoff token carries the prior cutoff forward
    * ([[commitRowTable]] stamps `max(visible batches, current
    * token)`), so an id at or below a past cutoff is permanently
    * "absorbed" — replaying it lands invisible (the protection), and
    * reusing it for NEW data silently drops that data. New data in an
    * existing dir takes fresh ids, exactly as streaming epoch ids
    * behave; resetting the id space means a fresh index dir.
    *
    * Probe and maintenance faces read base UNION increment
    * ([[servingRows]]) with directory pruning intact on both sides
    * (centroid_id is a partition column of each); a rebuild (any write
    * face) clears the increment sibling. Each increment partition is
    * bounded by its batch size, and the staleness/skew triggers that
    * force the rebuild also reset them. The serving index must already
    * EXIST (geometry sized for the eventual corpus — the same
    * no-fixture-defaults stance as the ingest loop's LSH geometry); loud
    * on a non-index dir. */
  def ivfIndexAppendBatch(spark: org.apache.spark.sql.SparkSession,
                          dir: String, newVectors: DataFrame, batchId: Long,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): Unit = {
    require(batchId >= 0L, s"batchId=$batchId must be >= 0 (negative ids " +
      "are reserved by the compaction epoch protocol)")
    // heal a crashed rebuild first: roll a staged commit forward/back
    // and drop increment batches the base already absorbed — their
    // stale rows would otherwise sit next to this batch's
    val table = healIndexDir(spark, dir)
    shardRows(spark, dir, table, newVectors, idCol, vecCol)
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$dir/${incTableOf(table)}/batch=$batchId")
  }

  /** The committed row set of a persisted serving index: the base row
    * table plus every VISIBLE batch partition of the increment sibling
    * ([[graft.streaming.DedupStream.visibleIndex]] — the marker
    * resolves epoch visibility during [[ivfIndexConsolidate]]'s crash
    * windows, exactly as it does for the ingest-loop sidecars).
    * Identical frame (and plan) to a bare base read when no increment
    * exists — plain-append indexes see zero change. Filters the probe
    * faces apply push into BOTH scans (centroid_id is a partition
    * column on each side of the union). `base` is the opened row
    * table — the probe faces open it with the schema their
    * [[ServedGeometry]] carries. The increment sibling is opened with a
    * schema derived from `base`'s (its data columns, then the `batch`
    * and `centroid_id` partition columns), so no schema inference job
    * runs; it is still listed (and read) on every call. */
  private def servingRows(spark: org.apache.spark.sql.SparkSession,
                          dir: String, table: String,
                          base: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val incDir = s"$dir/${incTableOf(table)}"
    if (!hasIncRows(spark, incDir)) base
    else {
      val incSchema = StructType(base.schema.filterNot(_.name == "centroid_id") :+
        StructField("batch", LongType) :+ base.schema("centroid_id"))
      val inc0 = graft.streaming.DedupStream.visibleRows(spark, incDir,
        spark.read.schema(incSchema).parquet(incDir))
      // batches the base already absorbed (the round-19 consumed
      // token): plain dirs at or below it, and the epoch partition
      // when the committed cutoff is itself consumed
      val inc = rowTableConsumedUpTo(spark, dir, table).fold(inc0) {
        consumed =>
          val epochVisible = graft.streaming.DedupStream
            .compactedUpTo(spark, incDir).exists(_ > consumed)
          inc0.filter(
            (col("batch") >= 0 && col("batch") > consumed) ||
            (col("batch") < 0 && lit(epochVisible)))
      }
      base.unionByName(inc.select(base.columns.map(col).toIndexedSeq: _*))
    }
  }

  /** RETENTION for the increment sibling ([[ivfIndexAppendBatch]]):
    * continuous ingest accumulates one `batch=N` dir (x touched
    * centroid subdirs) per micro-batch — thousands of small partitions
    * at steady state, each paying a listing + file open at probe time.
    * This folds every increment batch at or below (highest batch −
    * `keepLastBatches`) into ONE epoch partition — still partitioned
    * by centroid_id inside, ONE file per bucket, so directory pruning
    * and the probe plan shape are unchanged — committed by the
    * [[graft.streaming.DedupStream]] epoch/marker protocol (atomic
    * rename; every crash window closed; the in-flight replayable batch
    * is never folded). The BASE table is untouched; a full rebuild
    * still clears the whole sibling. Single-writer like all maintenance
    * here: run between appends, never concurrently with one. Returns
    * the committed cutoff, or None when nothing is old enough. */
  def ivfIndexConsolidate(spark: org.apache.spark.sql.SparkSession,
                          dir: String, keepLastBatches: Int = 1,
                          targetBytes: Long = 128L * 1024 * 1024): Option[Long] = {
    // heal first: folding a consumed batch into a visible epoch would
    // resurrect it
    val incDir = s"$dir/${incTableOf(healIndexDir(spark, dir))}"
    if (!hasIncRows(spark, incDir)) None
    else graft.streaming.DedupStream.compactIndexTableNested(spark, incDir,
      "centroid_id", keepLastBatches, targetBytes)
  }

  // ---- served build geometry: what the probe and append faces need of
  // an index's BUILD (quantizer rows, PQ codebook, residual flag,
  // row-table schema) is immutable for as long as the files that carry
  // it are, so it is pulled once per committed build instead of once per
  // probe or append ----

  /** The build geometry of a served index, as the probe faces and the
    * appends ([[shardRows]]) need it: the centroid rows (re-served to
    * the probe rank as a local frame — no centroids scan, no schema
    * job), the PQ codebook tensor (empty for the plain IVF layout), the
    * residual flag, and the base row table's schema (opened with it,
    * the per-call scan skips schema inference). K x d + m x ksub x dsub
    * doubles. */
  private final case class ServedGeometry(
      table: String,
      centroids: LocalCentroids,
      book: Array[Array[Array[Double]]],
      residual: Boolean,
      rowSchema: org.apache.spark.sql.types.StructType) {
    /** The base row table, opened with the resolved schema. */
    def base(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
      spark.read.schema(rowSchema).parquet(s"$dir/$table")
  }

  /** Identity of the files one sidecar was read from: (path, length,
    * mtime) of each file in its dir ([[sidecarPath]]), from ONE
    * listing; no files when the dir is absent (the miss then raises
    * the read's own missing-path error). Part-file names carry the
    * writer job's UUID, so a rebuild — committed, or crashed and
    * healed — never repeats an identity. */
  private final case class SidecarIdentity(path: String,
                                           files: Seq[(String, Long, Long)])

  private def sidecarIdentity(fs: org.apache.hadoop.fs.FileSystem,
                              dir: String, table: String,
                              name: String): SidecarIdentity = {
    val path = sidecarPath(dir, table, name)
    SidecarIdentity(path,
      try fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
        .filter(_.isFile)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .sortBy(_._1)
      catch { case _: java.io.FileNotFoundException => Nil })
  }

  /** One entry per served dir, bounded (least recently probed evicted
    * first): the identity its geometry was resolved under, and the
    * geometry. Only a SUCCESSFUL resolution is stored — an error (a
    * build_meta with no residual row, an unreadable sidecar) raises
    * again on every probe until the files change. */
  private object GeometryCache {
    private val MaxDirs = 8
    private type Identity = (String, Seq[SidecarIdentity])
    private val entries =
      new java.util.LinkedHashMap[String, (Identity, ServedGeometry)](
        16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (Identity, ServedGeometry)]): Boolean =
          size() > MaxDirs
      }

    def getOrResolve(key: String, identity: Identity)
                    (resolve: => ServedGeometry): ServedGeometry = {
      val hit = entries.synchronized(Option(entries.get(key)))
        .collect { case (id, g) if id == identity => g }
      hit.getOrElse {
        val g = resolve
        entries.synchronized(entries.put(key, (identity, g)))
        g
      }
    }
  }

  /** The build geometry of the index at `dir`, resolved once per
    * committed build: every call lists the sidecar dirs (one listing
    * each, no Spark job) and reuses the cached geometry while their
    * file identities are unchanged. `pq` selects the IVF-PQ sidecars
    * (quantizer, codebook, build_meta under `codes.parquet`) over the
    * plain IVF one (quantizer under `assigned.parquet`). The row table
    * itself is NOT cached — only its schema: its files, and every
    * increment batch, are listed on each call. */
  private def servedGeometry(spark: org.apache.spark.sql.SparkSession,
                             dir: String, pq: Boolean): ServedGeometry = {
    val table = rowTableOf(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val sidecarTable = if (pq) "codes.parquet" else "assigned.parquet"
    def sidecar(name: String) = sidecarIdentity(fs, dir, sidecarTable, name)
    val quantizer = sidecar("centroids.parquet")
    val pqSidecars =
      if (pq) Seq(sidecar("pq_codebook.parquet"), sidecar("build_meta.parquet"))
      else Nil
    GeometryCache.getOrResolve(s"$dir|$sidecarTable", (table, quantizer +: pqSidecars)) {
      val centroids = localCentroids(spark.read.parquet(quantizer.path))
      val (book, residual) = pqSidecars match {
        case Seq(codebook, _) =>
          val b = collectCodebook(spark.read.parquet(codebook.path))
          require(b.length >= 1, "empty codebook")
          (b, buildMetaOf(spark, dir, sidecarTable).residual)
        case _ => (Array.empty[Array[Array[Double]]], false)
      }
      ServedGeometry(table, centroids, book, residual,
        spark.read.parquet(s"$dir/$table").schema)
    }
  }

  /** Probe a persisted [[pqIndexWrite]] index: IVF bucket pruning AND
    * PQ asymmetric-distance scoring in one pass. Each query ranks the
    * K centroids (cosine, the [[ivfTopK]] rule), its nProbe bucket ids
    * reach the codes scan as LITERALS (K-bounded driver pull — the
    * d09a partition-pruning requirement), candidates are restricted to
    * each query's OWN buckets via the probes join, and scoring is m
    * lookups into the query's exact-distance table ([[pqTopK]]'s ADC)
    * — no stored vector is ever read. With nProbe = nCentroids the
    * result is EXACTLY [[pqTopK]] over the same codebook (spec-pinned:
    * pruning never changes in-bucket scores, it only drops buckets).
    *
    * What is read when: the build geometry — quantizer rows, codebook,
    * residual flag, and the row table's schema — is resolved ONCE per
    * committed build ([[servedGeometry]]): each call lists the sidecar
    * dirs and reuses the geometry while their files are unchanged, so a
    * rebuild (any write face, or a healed crashed one) is picked up by
    * the next probe. Read on EVERY call: the row table's file listing
    * and every visible increment batch ([[ivfIndexAppendBatch]] rows
    * are served with no rebuild; the increment is opened with a schema
    * derived from the geometry's, so no inference job runs). A
    * build_meta that cannot say how the codes were encoded raises on
    * every probe; errors are never cached.
    *
    * Where the probes are built: a query frame that is already on the
    * driver (a local relation, queries x centroids within
    * [[LocalProbeMaxCross]]) is ranked and its LUTs built there with no
    * Spark job ([[localProbes]]); one query then also takes a bounded
    * top-k under the rank window. Any other frame ranks its centroids
    * in Spark, and the ranked probes are checkpointed and their bucket
    * ids pulled to the driver ([[checkpointedProbes]]). Both shapes give
    * the same rows (spec-pinned on hostile queries). */
  def ivfPqTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                queries: DataFrame, k: Int, nProbe: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val geom = servedGeometry(spark, dir, pq = true)
    val q = queryVectors(queries, idCol, vecCol)
    val centroids = geom.centroids.df(spark)
    // residual index (IVFADC): the asymmetric side subtracts the PROBED
    // centroid from the query, so the LUT is per (query, centroid) —
    // built here where cvec is in scope, K-bounded extra work, same
    // scan cost. Raw index: one LUT per query from qvec directly.
    val lutSrc =
      if (geom.residual) zip_with(col("qvec"), col("cvec"), (x, y) => x - y)
      else col("qvec")
    val payload = Seq(col("query_id"), col("centroid_id"), lutOf(lutSrc, geom.book).as("lut"))
    // materialized size is queries x nProbe rows carrying one m x ksub
    // LUT each
    val probes = localProbes(spark, q, centroids, nProbe, payload).getOrElse(
      checkpointedProbes(q.crossJoin(broadcast(centroids))
        .select(col("query_id"), col("qvec"), col("cvec"), col("centroid_id"),
          cosine(col("qvec"), col("cvec")).as("_sim"))
        .withColumn("_rn", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("_sim").desc, col("centroid_id").asc)))
        .filter(col("_rn") <= nProbe)
        .select(payload: _*)))
    val codes = servingRows(spark, dir, geom.table, geom.base(spark, dir))
      .filter(col("centroid_id").isin(probes.probedIds: _*))
    val scored = codes.join(broadcast(probes.frame), Seq("centroid_id"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        graft.functions.AdcLookup.adc(col("codes"), col("lut")).as("adc_dist"))
    topKPerQuery(scored, col("adc_dist").asc, k, probes.oneQuery)
      .select("query_id", "rank", "id", "adc_dist")
  }

  /** [[ivfPqTopK]] with an EXACT-COSINE RERANK of the ADC candidates —
    * the composition the PQ scaladoc and SCALE.md prescribe against
    * ADC's noise-regime recall, as an API instead of caller discipline
    * (round 16): the persisted index retrieves each query's top
    * `rerank` candidates by asymmetric distance (codes only — no
    * stored vector read), the candidates' FULL-PRECISION vectors are
    * fetched candidate-order from `vectors` (an id-keyed join of a
    * rerank x queries-sized list against the corpus table — the d10c
    * semi-join pattern: AQE broadcasts the candidate side, the corpus
    * is never shuffled), and the final top-k is exact cosine via the
    * codegen'd [[graft.functions.DotProduct]]. Output ≡
    * [[bruteForceTopK]]'s schema (query_id, rank, id, cosine); with
    * nProbe = all buckets and rerank = corpus size it IS brute force
    * (spec-pinned), and on planted structure recall is >= the ADC-only
    * probe's at any (nProbe, rerank) since reranking only reorders the
    * retrieved set (spec-pinned on the noise regime where ADC alone
    * misorders).
    *
    * `vectors` is the full-precision corpus table the index was built
    * over — at 100 TB it lives elsewhere (the index stores codes only)
    * and this join touches candidate-many rows of it, which is the
    * whole point: IO stays ~rerank/corpus of a brute-force scan while
    * the returned scores are exact. */
  def ivfPqTopKReranked(spark: org.apache.spark.sql.SparkSession, dir: String,
                        queries: DataFrame, vectors: DataFrame,
                        k: Int, rerank: Int, nProbe: Int,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val cands = ivfPqTopK(spark, dir, queries, rerank, nProbe, idCol, vecCol)
      .select("query_id", "id")
    val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
      .withColumn("_n", norm(col("vec")))
    val q = queryVectors(queries, idCol, vecCol).withColumn("_qn", norm(col("qvec")))
    val scored = cands.join(v, "id").join(broadcast(q), "query_id")
      .select(col("query_id"), col("id"),
        (dot(col("vec"), col("qvec")) / (col("_n") * col("_qn"))).as("cosine"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "id", "cosine")
  }

  /** Appended-since-build fraction of a persisted index:
    * (rows now - rows at build) / rows at build, with rows at build
    * read from build_meta's `built_n` ([[buildMetaOf]] — a meta with
    * no row raises its named error). None for an index built over an
    * EMPTY corpus (builtN = 0 — a fraction of nothing is not a signal;
    * feeding Infinity/NaN to the re-quantize rule would be nonsense,
    * and such an index needs a rebuild the moment it holds any rows
    * anyway). The count is parquet-metadata-cheap; see
    * [[ivfIndexAppend]] for the re-quantize rule it feeds. Works on
    * both persisted layouts: the plain [[ivfIndexWrite]] one
    * (`assigned.parquet`) and the IVF-PQ [[pqIndexWrite]] one
    * (`codes.parquet`). */
  def ivfIndexStaleness(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Option[Double] = {
    val table = rowTableOf(spark, dir)
    stalenessOf(spark, dir, table, buildMetaOf(spark, dir, table))
  }

  /** [[ivfIndexStaleness]] over an already-read meta. */
  private def stalenessOf(spark: org.apache.spark.sql.SparkSession,
                          dir: String, table: String,
                          meta: BuildMeta): Option[Double] =
    if (meta.builtN == 0L) None
    else {
      val nowN = servingRows(spark, dir, table,
        spark.read.parquet(s"$dir/$table")).count()
      Some((nowN - meta.builtN).toDouble / meta.builtN)
    }

  /** Bucket-size skew of a persisted index: max/median of the
    * per-centroid_id partition row counts — the OTHER re-quantize
    * trigger ([[ivfIndexAppend]]'s rule says "~0.5 staleness, or
    * earlier if per-bucket row counts skew"; round 16 makes that
    * signal code, not prose). Appends under a frozen quantizer can
    * only grow buckets the drifted distribution favors, so a rising
    * ratio means probes of the hot buckets scan ever more rows for
    * the same recall — the quadratic half of the drift that the
    * row-count staleness fraction cannot see (a perfectly uniform
    * append keeps skew flat at any staleness). Counts come off the
    * partition LISTING plus direct parquet FOOTER reads — one listing
    * pass, then `ParquetFileReader.getRecordCount` per data file: row
    * counts live in the footer metadata, so no data page is read and
    * ZERO Spark jobs run (round 17: the previous cut submitted one
    * `count()` job per partition — metadata-cheap each, but at the
    * [[centroidsFor]] clamp that was 4096 sequential driver round-trips
    * for one poll, contradicting exactly this "as cheap as the
    * staleness count" promise; driver-side footer reads keep the
    * no-scan property at zero jobs, measured at K=1024 in SCALE.md).
    * The listing strategy is SCHEME-AWARE (round 18): on a remote
    * store (anything but `file:`) it is ONE recursive `listFiles`
    * enumeration per tree — the r17 cut issued one `listStatus` RPC
    * per partition dir, K×files round-trips that would dominate an
    * object-store poll, where S3A answers a recursive listFiles with
    * bulk paged LISTs and HDFS batches located-status RPCs. On the
    * LOCAL filesystem the bulk enumeration is the slow path (measured:
    * the sequential per-file iterator costs ~3.7 ms/file through the
    * checksum FS — 30 s of a 38 s poll at 8k files, 4× the r17 wall),
    * so `file:` keeps the PARALLEL per-directory walk, where syscalls
    * are cheap and the parallel pool wins. Both strategies produce
    * identical (partition, file) sets (spec-pinned), parse partition
    * identity from the paths, skip hidden dirs (`_temporary` — a
    * concurrent writer's staging) and hidden file names, and fan the
    * footer reads out per FILE on the parallel-collections pool.
    * Round 19 removes the O(files) footer term from the steady state:
    * a poll-owned per-file row-count cache ([[RowCacheName]], keyed on
    * (path, length, mtime) — immutable file identity under Spark's
    * per-job-UUID part naming) makes a warm poll a pure LISTING; only
    * files the cache has never seen (an append's new files, a
    * rebuild's fresh tree) pay a footer open, and the refreshed cache
    * commits via tmp+rename with zero Spark jobs. The cache is
    * ADVISORY — torn/missing degrades to footer reads, never to a
    * wrong count — so no write face coordinates with it (spec pins
    * warm = cold on every layout, zero opens when nothing changed,
    * and shard-bounded opens after an append).
    * None for an index with no partitions; empty buckets never
    * materialize as dirs, so the median is over NON-EMPTY buckets (the
    * serving-cost view: a probe of an absent dir is free). Works on
    * both layouts, like [[ivfIndexStaleness]]. */
  def ivfIndexSkew(spark: org.apache.spark.sql.SparkSession,
                   dir: String): Option[Double] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    ivfIndexSkewListing(spark, dir, bulkListing = fs.getScheme != "file")
  }

  /** The poll-owned per-file row-count cache (round 19 — the verdict's
    * O(files) driver-term fix): at the [[centroidsFor]] clamp the skew
    * poll's dominant cost was the parquet footer OPENS (25.7 s for 32k
    * files at K=4096, SCALE.md), which only grows with corpus size.
    * The cache is one line per data file — `rows len mtime path` —
    * keyed on IMMUTABLE file identity (path, length, modification
    * time: Spark part files carry per-job UUIDs, so a rewrite is a new
    * key), written tmp+rename after any poll that footer-read
    * something. A warm poll is pure LISTING (no opens); appends cost
    * footers only for their own new files; rebuilds/consolidations
    * invalidate naturally (old keys vanish from the listing, new files
    * miss). Crash-safe by construction: the cache is ADVISORY — a
    * torn/corrupt/stale file degrades to footer reads, never to a
    * wrong count — so no write face needs to coordinate with it (the
    * sidecar-maintained-by-writers alternative has a crash seam per
    * writer: a crash between data write and sidecar update would
    * UNDERCOUNT silently forever; keyed-cache misses instead). */
  private val RowCacheName = "_bucket_rows_cache"

  private[graft] def readRowCache(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path)
      : Map[String, (Long, Long, Long)] =
    if (!fs.exists(p)) Map.empty
    else try {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().flatMap {
        line =>
          line.split('\t') match {
            case Array(rows, len, mt, path) =>
              scala.util.Try(
                path -> (len.toLong, mt.toLong, rows.toLong)).toOption
            case _ => None
          }
      }.toMap finally in.close()
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  private[graft] def writeRowCache(fs: org.apache.hadoop.fs.FileSystem,
                            p: org.apache.hadoop.fs.Path,
                            entries: Seq[(org.apache.hadoop.fs.FileStatus, Long)])
      : Unit =
    try {
      val startMs = System.currentTimeMillis()
      // a PER-WRITER tmp name: the poll is a READ face with no
      // single-writer contract, so two concurrent monitors may both
      // refresh the cache — a shared tmp path would let one writer's
      // create() truncate the other's in-flight stream and commit a
      // spliced-but-parseable line whose wrong row count PASSES the
      // (len, mtime) identity check (round-19 review finding); unique
      // tmps make the final commit last-writer-wins, both candidates
      // correct. The tmp is deleted on any failure; a crash-orphaned
      // tmp is swept by the next successful writer below.
      val tmp = new org.apache.hadoop.fs.Path(p.getParent,
        p.getName + ".tmp-" + java.util.UUID.randomUUID().toString)
      try {
        val out = fs.create(tmp, true)
        try {
          val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
            out, java.nio.charset.StandardCharsets.UTF_8))
          entries.foreach { case (f, rows) =>
            w.write(s"$rows\t${f.getLen}\t${f.getModificationTime}\t" +
              f.getPath.toUri.getPath)
            w.newLine()
          }
          w.flush()
        } finally out.close()
        // OVERWRITE-rename, never delete-then-rename (round-20 fix of a
        // round-19 review finding): the old sequence deleted the
        // committed cache BEFORE renaming its replacement, so a loser
        // whose tmp a concurrent winner had swept would delete the
        // winner's committed cache and then fail its rename — leaving
        // NO cache at all. The single overwrite-rename either commits
        // our candidate or throws with the committed cache untouched
        // (a swept tmp throws FileNotFound into the advisory catch).
        // Stores with no AbstractFileSystem binding (FileContext
        // unsupported — some object-store deployments configure only
        // fs.<scheme>.impl) fall back to delete-then-rename rather
        // than silently never committing a cache again: the fallback
        // reopens the benign no-cache-window race, never a wrong count.
        try org.apache.hadoop.fs.FileContext
          .getFileContext(fs.getUri, fs.getConf)
          .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        catch {
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            if (fs.exists(p)) { fs.delete(p, false); () }
            if (!fs.rename(tmp, p)) throw new java.io.IOException(
              s"row-cache fallback rename $tmp -> $p failed")
        }
      } finally { if (fs.exists(tmp)) { fs.delete(tmp, false) }; () }
      // sweep crash-orphaned tmps from prior writers (tiny files; the
      // parent is the index dir root, a handful of entries) — AGE-GATED
      // to tmps last written before this writer started (round-20 fix:
      // an unconditional sweep ate a CONCURRENT poller's in-flight tmp).
      // The gate is a heuristic, not a guarantee: on local fs mtime
      // tracks the last write, so a live writer's tmp postdates our
      // start; on stores that stamp mtime at create, a slow concurrent
      // writer's tmp can still be swept — its overwrite-rename then
      // throws FNF into the advisory catch and ONLY its refresh is
      // lost (the committed cache survives; the next poll rebuilds).
      // Losing one advisory refresh is the accepted cost; destroying
      // the committed cache (the round-19 hole) is not possible here.
      fs.listStatus(p.getParent).foreach { s =>
        if (s.getPath.getName.startsWith(p.getName + ".tmp-") &&
            s.getModificationTime < startMs) {
          fs.delete(s.getPath, false); ()
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () } // advisory

  /** [[ivfIndexSkew]] with the listing strategy pinned — package-
    * visible so the spec can assert both strategies agree (their A/B:
    * SCALE.md "Round-18 measurements: kmeans|| at quality K,
    * scheme-aware skew listing"). */
  private[graft] def ivfIndexSkewListing(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      bulkListing: Boolean): Option[Double] =
    ivfIndexSkewCounted(spark, dir, bulkListing)._1

  /** [[ivfIndexSkewListing]] plus the number of parquet footers the
    * poll actually OPENED — package-visible so the spec can pin the
    * cache contract (warm poll = zero opens; appends open only their
    * own files). Cold vs warm poll walls: SCALE.md "Round-19
    * measurements: the skew poll loses its O(files) footer term, ...". */
  private[graft] def ivfIndexSkewCounted(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      bulkListing: Boolean): (Option[Double], Int) = {
    val conf = spark.sessionState.newHadoopConf()
    val table = rowTableOf(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(conf)
    // enumerate a tree's parquet data files, each paired with its
    // ancestor dir names strictly below the root (outermost first);
    // hidden segments drop the file. Bulk: one recursive listFiles
    // (remote stores). Walk: parallel per-directory listStatus (local).
    def bulkFiles(root: org.apache.hadoop.fs.Path)
        : Seq[(Seq[String], org.apache.hadoop.fs.FileStatus)] = {
      val rootPath = root.toUri.getPath
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[(Seq[String], org.apache.hadoop.fs.FileStatus)]
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        val fname = f.getPath.getName
        // hidden FILE names drop too, matching walkFiles' per-name rule
        // (round-19 ADVICE: a dot-/underscore-prefixed *.parquet — e.g.
        // a tool-copied artifact on an object store — must not count)
        if (f.isFile && fname.endsWith(".parquet") &&
            !fname.startsWith("_") && !fname.startsWith(".")) {
          var cur = f.getPath.getParent
          var segs = List.empty[String]
          var under = false
          while (cur != null && !under) {
            if (cur.toUri.getPath == rootPath) under = true
            else { segs = cur.getName :: segs; cur = cur.getParent }
          }
          if (under && !segs.exists(s =>
              s.startsWith("_") || s.startsWith(".")))
            buf += ((segs, f))
        }
      }
      buf.toSeq
    }
    def walkFiles(root: org.apache.hadoop.fs.Path)
        : Seq[(Seq[String], org.apache.hadoop.fs.FileStatus)] = {
      import scala.collection.parallel.CollectionConverters._
      def go(p: org.apache.hadoop.fs.Path, segs: List[String])
          : Seq[(Seq[String], org.apache.hadoop.fs.FileStatus)] =
        fs.listStatus(p).toSeq.par.flatMap { s =>
          val name = s.getPath.getName
          if (name.startsWith("_") || name.startsWith(".")) Seq.empty
          else if (s.isDirectory) go(s.getPath, segs :+ name)
          else if (name.endsWith(".parquet")) Seq((segs: Seq[String], s))
          else Seq.empty
        }.seq.toSeq
      go(root, Nil)
    }
    def dataFiles(root: org.apache.hadoop.fs.Path)
        : Seq[(Seq[String], org.apache.hadoop.fs.FileStatus)] =
      if (!fs.exists(root)) Seq.empty
      else if (bulkListing) bulkFiles(root)
      else walkFiles(root)
    // row counts per file: cache hits by (path, len, mtime) identity
    // ([[RowCacheName]] — round 19; a warm poll opens NOTHING), footer
    // opens only for the misses, fanned out on the parallel pool
    // (opens are ~ms each — sequential at K=1024 x multiple files that
    // was most of a minute, parallel it is seconds, cached it is a
    // listing: SCALE.md "Round-17 scale-seam closures", item 2)
    val cacheFile = new org.apache.hadoop.fs.Path(s"$dir/$RowCacheName")
    val cachedRows = readRowCache(fs, cacheFile)
    val opened = new java.util.concurrent.atomic.AtomicInteger(0)
    def footerCounts(files: Seq[(String, org.apache.hadoop.fs.FileStatus)])
        : Seq[(String, org.apache.hadoop.fs.FileStatus, Long)] = {
      import scala.collection.parallel.CollectionConverters._
      files.par.map { case (bucket, f) =>
        val hit = cachedRows.get(f.getPath.toUri.getPath).collect {
          case (len, mt, rows)
            if len == f.getLen && mt == f.getModificationTime => rows
        }
        val rows = hit.getOrElse {
          opened.incrementAndGet()
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
          try reader.getRecordCount finally reader.close()
        }
        (bucket, f, rows)
      }.seq.toSeq
    }
    val base = footerCounts(
      dataFiles(new org.apache.hadoop.fs.Path(s"$dir/$table")).flatMap {
        case (segs, f) =>
          segs.find(_.startsWith("centroid_id=")).map(_ -> f)
      })
    // increment batches ([[ivfIndexAppendBatch]]): per-bucket rows are
    // the UNION's — merge batch=N/centroid_id=X counts into the
    // bucket, honoring the consolidation marker's visibility rule
    // (epoch dir + batches above the cutoff; without a marker, plain
    // batches only — the [[servingRows]] read face's semantics)
    val incDir = s"$dir/${incTableOf(table)}"
    val incRoot = new org.apache.hadoop.fs.Path(incDir)
    val inc =
      if (!fs.exists(incRoot)) Seq.empty
      else {
        val cutoff = graft.streaming.DedupStream.compactedUpTo(spark, incDir)
        val consumed = rowTableConsumedUpTo(spark, dir, table)
        footerCounts(dataFiles(incRoot).flatMap { case (segs, f) =>
          for {
            b <- segs.find(_.startsWith("batch="))
            bid <- scala.util.Try(b.stripPrefix("batch=").toLong).toOption
            if graft.streaming.DedupStream.visibleBatch(cutoff, bid)
            // the round-19 consumed token: batches the base absorbed
            // are invisible here exactly as in [[servingRows]]
            if consumed.forall(cb =>
              if (bid >= 0) bid > cb else cutoff.exists(_ > cb))
            c <- segs.find(_.startsWith("centroid_id="))
          } yield c -> f
        })
      }
    // refresh the cache when anything was footer-read or a cached file
    // vanished from the listing (rebuild/consolidate/clear) — advisory
    // tmp+rename write, zero Spark jobs, never fails the poll
    val all = base ++ inc
    if (opened.get > 0 ||
        cachedRows.keySet != all.map(_._2.getPath.toUri.getPath).toSet)
      writeRowCache(fs, cacheFile, all.map(e => (e._2, e._3)))
    val counts = all.groupBy(_._1)
      .map { case (_, rows) => rows.map(_._3).sum }
      .toSeq.sorted
    val skew =
      if (counts.isEmpty) None
      else {
        val median =
          if (counts.length % 2 == 1) counts(counts.length / 2).toDouble
          else (counts(counts.length / 2 - 1) + counts(counts.length / 2)) / 2.0
        Some(counts.last / median)
      }
    (skew, opened.get)
  }

  /** One maintenance poll's outcome: both trigger readings and whether
    * the rebuild fired. */
  final case class IndexMaintenance(staleness: Option[Double],
                                    skew: Option[Double],
                                    rebuilt: Boolean)

  /** The RE-QUANTIZE RULE as one callable (round 17 — previously the
    * rule lived as scaladoc prose on [[ivfIndexAppend]]): poll both
    * rebuild triggers and, when either fires ([[ivfIndexStaleness]] >=
    * `maxStaleness` — the appended-fraction drift — or
    * [[ivfIndexSkew]] >= `maxSkew` — the hot-bucket drift the fraction
    * cannot see), rebuild the index over `corpus` IN PLACE with the
    * layout's own construction parameters: K re-read from the stored
    * centroid table, (m, ksub) from the stored codebook, and the
    * recorded [[IndexSpec]] (round 18) — seeding with its (rounds,
    * oversample, seed, Lloyd iterations), codebook refinement, and
    * encoding — replayed through the same build the write faces run.
    * An auto record RE-RUNS the chooser at its RECORDED evaluation
    * sample width (round 19 — a non-default eval sample is part of the
    * decision procedure, and replaying it at the default could flip
    * raw-vs-residual differently than the original chooser would);
    * build_meta records the fresh outcome. So a maintenance daemon
    * needs no record of how the index was built — the index carries
    * it. The one exception is `seeding = "given"`
    * ([[ivfIndexWriteWith]]/[[pqIndexWriteWith]]: a caller-supplied
    * geometry whose construction the index cannot know) — the rebuild
    * warns loudly on stderr and builds with `IndexSpec()`. The poll
    * reads build_meta ONCE ([[buildMetaOf]]): the staleness
    * denominator and, on a fire, the record replayed. `corpus` must be the FULL current
    * corpus (the appended rows included): the rebuild re-derives
    * geometry from it and clears the increment sibling. Single-writer
    * like every maintenance face; polling cost when nothing fires is
    * one metadata count + one footer walk (no corpus scan).
    *
    * The skew trigger is APPEND-DRIVEN (round-17 review): it fires
    * only when staleness > 0 — i.e. something has been appended since
    * the build. Bucket contents change ONLY via appends, so at
    * staleness 0 the skew reading is the build's own intrinsic
    * quantizer skew, which the rebuild would exactly reproduce — an
    * unconditional absolute trigger would turn a daemon polling an
    * intrinsically skewed corpus into a full-corpus rebuild loop.
    * Intrinsic skew is a build-QUALITY matter: address it with the
    * [[IndexSpec]] seeding knobs, not the maintenance loop. */
  def ivfIndexMaintain(spark: org.apache.spark.sql.SparkSession,
                       dir: String, corpus: DataFrame,
                       maxStaleness: Double = 0.5, maxSkew: Double = 4.0,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): IndexMaintenance = {
    // heal a crashed rebuild before reading the triggers (roll a
    // staged commit forward/back, drop absorbed increment batches —
    // the readings below already skip them either way)
    val table = healIndexDir(spark, dir)
    val meta = buildMetaOf(spark, dir, table)
    val st = stalenessOf(spark, dir, table, meta)
    val sk = ivfIndexSkew(spark, dir)
    val fire = st.exists(_ >= maxStaleness) ||
      (st.exists(_ > 0) && sk.exists(_ >= maxSkew))
    if (fire) {
      val k = spark.read.parquet(
        sidecarPath(dir, table, "centroids.parquet")).count().toInt
      val pq =
        if (table == "assigned.parquet") None
        else {
          val book = collectCodebook(spark.read.parquet(
            sidecarPath(dir, table, "pq_codebook.parquet")))
          Some((book.length, book.head.length))
        }
      val spec =
        if (meta.spec.seeding != "given") meta.spec
        else {
          System.err.println(
            "[graft-similarity] ivfIndexMaintain: index was built from a " +
              "CALLER-SUPPLIED geometry (ivfIndexWriteWith/pqIndexWriteWith " +
              "— seeding = \"given\"); its construction is not recorded, " +
              "so this rebuild uses the default IndexSpec() (stride). To " +
              "keep a quality build across maintenance, build through " +
              "ivfIndexWrite / pqIndexWrite with an IndexSpec, or rebuild " +
              "explicitly.")
          IndexSpec()
        }
      buildIndex(corpus, dir, coarseQuantizer(corpus, k, spec, idCol, vecCol),
        pq, idCol, vecCol, spec)
    }
    IndexMaintenance(st, sk, fire)
  }

  /** Which row table a persisted index directory holds:
    * `assigned.parquet` ([[ivfIndexWrite]]) or `codes.parquet`
    * ([[pqIndexWrite]]) — the ONE layout check every face runs (the
    * probe, append, and maintenance families work on either layout),
    * one existence test per layout: the table's `_graft/` sidecar dir
    * ([[sidecarPath]]). A row table without one holds an outdated
    * layout (sidecars beside the table, no in-table record) that no
    * face reads; a served index is derived data, so the named error
    * says to rebuild it. Loud when neither table exists. */
  private def rowTableOf(spark: org.apache.spark.sql.SparkSession,
                         dir: String): String = {
    val tables = Seq("assigned.parquet", "codes.parquet")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def exists(path: String) = fs.exists(new org.apache.hadoop.fs.Path(path))
    tables.find(t => exists(s"$dir/$t/$SidecarDir")).getOrElse {
      throw new IllegalArgumentException(
        tables.find(t => exists(s"$dir/$t")).fold(
          s"$dir holds neither assigned.parquet nor codes.parquet — not an " +
            "ivfIndexWrite/pqIndexWrite index directory") { t =>
          s"$dir/$t has an outdated index layout (no in-table " +
            s"$SidecarDir/ build sidecars) that this version no longer " +
            "reads — rebuild it with ivfIndexWrite/pqIndexWrite over its " +
            "corpus into a fresh dir"
        })
    }
  }

  /** Probe a persisted [[ivfIndexWrite]] index: identical results to
    * [[ivfTopK]] over the same (centroids, assigned) pair — spec-pinned
    * — but the assigned scan carries `PartitionFilters:
    * [centroid_id IN (...)]`, so only the UNION of the queries' nProbe
    * buckets is read from storage.
    *
    * The probe set must reach the scan as LITERALS for directory-level
    * pruning (a join cannot prune partitions at planning time), so the
    * per-query nearest-centroid ranks are computed once against the
    * K-row centroid table and the distinct probed ids brought to the
    * driver — a K-BOUNDED set (<= min(queries x nProbe, K) values), the
    * same budget every centroid operator here already pays. The scoring
    * join then re-restricts each query to its OWN nProbe buckets, so
    * the union-level pruning never widens a query's candidate set.
    *
    * The probes are built as [[ivfPqTopK]] builds them: on the driver
    * with no Spark job for a local query frame ([[localProbes]]), or
    * ranked in Spark, checkpointed once (the rank is consumed by both
    * the pruning pull and the scoring join) and their bucket ids pulled
    * ([[checkpointedProbes]]) for any other frame.
    *
    * What is read when ([[ivfPqTopK]]'s split): the quantizer rows and
    * the row table's schema are resolved ONCE per committed build
    * ([[servedGeometry]] — each call lists the quantizer sidecar and
    * reuses them while its files are unchanged, so a rebuild is seen by
    * the next probe); the row table's file listing and every visible
    * increment batch are read on EVERY call, the increment with no
    * schema inference job. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                     queries: DataFrame, k: Int, nProbe: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val geom = servedGeometry(spark, dir, pq = false)
    val centroids = geom.centroids.df(spark)
    val q = queryVectors(queries, idCol, vecCol)
    val probes = localProbes(spark, q, centroids, nProbe,
        Seq(col("query_id"), col("qvec"), norm(col("qvec")).as("_qn"), col("centroid_id")))
      .getOrElse(checkpointedProbes(probeRank(q, centroids, nProbe)))
    val assigned = servingRows(spark, dir, geom.table, geom.base(spark, dir))
      .filter(col("centroid_id").isin(probes.probedIds: _*))
    scoreProbes(probes.frame, assigned, k, probes.oneQuery)
  }
}
