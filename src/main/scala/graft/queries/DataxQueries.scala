package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.datax.{Curation, Dedup, Multimodal, Profile, Similarity, TextStats}
import graft.streaming.{BatchFiles, DedupStream, EmbedStream, StreamOps}

/** Scale-extension operators — dedup / similarity search / multimodal /
  * text analysis / event-time windows — over the `documents`,
  * `embeddings`, and `events` tables.
  *
  * Oracle-parity notes (hash compare is exact):
  *  - every hash-bearing operator here is built on md5 (hex, lowercase in
  *    both engines) so the FULL pipeline — including MinHash signatures
  *    and LSH band buckets — is replayed verbatim in DuckDB SQL;
  *  - float folds (dot products) are sequential in both engines with a
  *    0.0 seed, so doubles match bit-for-bit;
  *  - xxhash64-based ops (SimHash, hyperplane LSH) have no DuckDB
  *    equivalent -> rows-only check + ScalaTest semantics specs.
  */
object DataxQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The testdata embedding dimensionality. The ANN/centroid family
    * presumes a FIXED-dimension vector space: a null or ragged vector
    * is a data error, filtered at the query boundary on BOTH the
    * engine and oracle sides (validate-at-ingest), not silently folded
    * into LSH buckets or centroid means (hostile-embeddings replay:
    * unfiltered, 5 of 9 vector queries skewed or errored).
    *
    * Policy is `onMalformed="drop"` — the documented exception to the
    * library default ([[graft.datax.Similarity.validEmbeddings]] fails
    * loudly): here the DuckDB oracles read through the IDENTICAL
    * filter ([[EMB]]), so the drop is symmetric by contract, and the
    * driver's hash compare would catch either side diverging. */
  private val EmbDim = 64
  private def embT(s: SparkSession, dir: String): DataFrame =
    Similarity.validEmbeddings(t(s, dir, "embeddings"), "embedding", EmbDim,
      onMalformed = "drop")
  /** The oracle-side face of [[embT]]: splice `FROM $EMB` wherever an
    * embeddings oracle reads the table. */
  private val EMB =
    "(SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64)"

  /** Scratch-dir cleanup for the streaming batch-drive entries (d52/d53):
    * both return lineage-cut frames, so their inputs/checkpoints are
    * deletable the moment the operator returns. */
  private def rmrf(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
    ()
  }

  // marker lists must match TextStats.* exactly (quoted into the SQL)
  private def sqlList(xs: Array[String]): String =
    xs.map("'" + _ + "'").mkString("[", ",", "]")
  private val EN = sqlList(TextStats.EnMarkers)
  private val DE = sqlList(TextStats.DeMarkers)
  private val FR = sqlList(TextStats.FrMarkers)
  private val ES = sqlList(TextStats.EsMarkers)

  // DuckDB fragments shared by the text oracles
  private val TOKS = "string_split(trim(lower(text)), ' ')"
  private def hits(list: String) =
    s"len(list_filter($TOKS, t -> list_contains($list, t)))"
  private val en = hits(EN)
  private val de = hits(DE)
  private val fr = hits(FR)
  private val es = hits(ES)

  /** DuckDB sequential double fold ≡ Spark's `aggregate(zip_with(...),
    * 0.0, +)` / the native DotProduct expression — bit-identical doubles
    * (same products, same summation order, 0.0 seed). */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1),
       |              i -> $a[i] * $b[i])), (acc, x) -> acc + x)""".stripMargin
  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** The portable SimHash replayed in DuckDB: md5 hex nibbles via strpos
    * (≡ Spark's conv(substr(md5, i, 1), 16, 10)), 64 conditional sums,
    * sign bits re-assembled into a signed BIGINT (bit 63 is the sign:
    * Spark's shiftleft(1L, 63) ≡ the Long.MinValue literal). */
  private val SimhashSql: String = {
    val nibDefs = (0 until 16).map(i =>
      s"strpos('0123456789abcdef', substr(md5(t), ${i + 1}, 1)) - 1 AS n$i")
      .mkString(",\n                 ")
    val sumDefs = (0 until 64).map(j =>
      s"sum(CASE WHEN (n${j / 4} >> ${j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n                 ")
    val fpTerms = (0 until 64).map(j =>
      if (j == 63) "(CASE WHEN b63 > 0 THEN -9223372036854775808 ELSE 0 END)"
      else s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("\n                 + ")
    s"""WITH toks AS (
          SELECT doc_id AS id, unnest($TOKS) AS t FROM documents),
        nib AS (
          SELECT id, $nibDefs
          FROM toks),
        sums AS (
          SELECT id, $sumDefs
          FROM nib GROUP BY id)
        SELECT id AS doc_id,
               CAST($fpTerms AS BIGINT) AS simhash
        FROM sums ORDER BY doc_id"""
  }

  /** IVF fully replayed with a pluggable centroid derivation (`cCte`
    * must end at a CTE named `c` with (centroid_id, cvec)):
    * nearest-centroid assignment, 4-probe search, top-5 per query.
    * [[IvfSql]] plugs the stride sample (d09/d09a);
    * [[ReservoirIvfSql]] the deterministic hash-coin reservoir
    * (d09k). */
  private def ivfSqlWithCentroids(cCte: String): String = {
    s"""WITH v AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM $EMB),
        $cCte,
        asg AS (
          SELECT id, vec, centroid_id FROM (
            SELECT v.id, v.vec, c.centroid_id,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY ${cosSql("v.vec", "c.cvec")} DESC, c.centroid_id ASC) AS rn
            FROM v CROSS JOIN c) WHERE rn = 1),
        q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
          FROM $EMB WHERE vec_id < 16),
        pr AS (
          SELECT query_id, qvec, centroid_id FROM (
            SELECT q.query_id, q.qvec, c.centroid_id,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${cosSql("q.qvec", "c.cvec")} DESC, c.centroid_id ASC) AS rn
            FROM q CROSS JOIN c) WHERE rn <= 4),
        scored AS (
          SELECT pr.query_id, asg.id,
                 ${dotSql("asg.vec", "pr.qvec")}
                   / (sqrt(${dotSql("asg.vec", "asg.vec")})
                      * sqrt(${dotSql("pr.qvec", "pr.qvec")})) AS cosine
          FROM pr JOIN asg ON pr.centroid_id = asg.centroid_id
          WHERE asg.id <> pr.query_id)
        SELECT query_id, rank, id, cosine FROM (
          SELECT query_id, id, cosine,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, id ASC) AS INT) AS rank
          FROM scored) WHERE rank <= 5
        ORDER BY query_id, rank"""
  }

  /** The stride-sampled quantizer (d09/d09a): stride = max(1, n/16),
    * centroids = ids ≡ 0 (mod stride) sorted. */
  private val IvfSql: String = ivfSqlWithCentroids(
    """st AS (SELECT greatest(1, count(*) // 16) AS stride, min(id) AS mn FROM v),
        c AS (
          SELECT id AS centroid_id, vec AS cvec FROM v, st
          WHERE (id - mn) % stride = 0 ORDER BY id LIMIT 16)""")

  /** The RESERVOIR-seeded quantizer (d09k): bottom-16 ids by the
    * md5('42:res:' || id) hash coin — Spark compares the 32-bit
    * numeric value of the first 8 hex chars, DuckDB the hex substring
    * itself; fixed-width lowercase hex makes the two orders
    * identical. Ties (never observed) break by id on both sides. */
  private val ReservoirIvfSql: String = ivfSqlWithCentroids(
    """c AS (
          SELECT id AS centroid_id, vec AS cvec FROM v
          ORDER BY substr(md5('42:res:' || CAST(id AS VARCHAR)), 1, 8), id
          LIMIT 16)""")

  /** The KMEANS|| SEEDING replayed closed-form (d09l, round 18) — the
    * full Bahmani construction in SQL: min-id first center; per round
    * the per-point cost (min squared-L2 over current centers, ordered
    * 64-dim folds), the ψ normalizer, and the md5-coin picks
    * (`md5u(seed, "r<N>", id) * ψ < cost * l` — the coin parses the
    * first 8 md5 hex chars as a 32-bit uniform, numerically identical
    * to Spark's `conv(...,16,10)/2^32`); then the weighted k-center
    * reduction: weights by cosine-nearest candidate (ties to the
    * lower id), heaviest first, then a RECURSIVE CTE running the
    * greedy farthest-point loop over the candidate distance matrix
    * (argmax of min distance to the chosen list, ties to the lower
    * id — `ORDER BY md DESC, a ASC`, exactly the Scala tie rule).
    *
    * Exactness stance: the QUERY integerizes the vectors first
    * (`floor(x * 4)` — x*4 is exact, floor is exact, both engines
    * agree bit-for-bit), so every fold, ψ sum, dot product, and
    * distance is an integer-valued double and ORDER-FREE — the one
    * place kmeans|| is not engine-portable on raw floats is ψ's
    * multi-operand sum, and integer entries remove it (the
    * SimilarityPropertiesSpec trick promoted to the oracle gate).
    * Coin products/divisions are single IEEE ops — deterministic on
    * both engines at any entries. 64-dim vectors; k = 8, rounds = 2,
    * oversample = 2 (l = 16), seed = 42 — at the sf0.01 fixture this
    * yields ~29 candidates, so the greedy reduction genuinely runs. */
  private val KmeansParSeedsCtes: String =
    s"""v AS (
          SELECT vec_id AS id,
                 list_transform(embedding::DOUBLE[], x -> floor(x * 4)) AS vec
          FROM $EMB),
        c0 AS (SELECT id, vec FROM v ORDER BY id LIMIT 1),
        cost1 AS (
          SELECT v.id,
            list_reduce(list_prepend(0.0, list_transform(range(1, 65),
              i -> (v.vec[i] - c0.vec[i]) * (v.vec[i] - c0.vec[i]))),
              (acc, x) -> acc + x) AS c
          FROM v, c0),
        psi1 AS (SELECT sum(c) AS p FROM cost1),
        pick1 AS (
          SELECT id FROM cost1, psi1
          WHERE CAST(('0x' || substr(md5('42:r1:' || CAST(id AS VARCHAR)), 1, 8)) AS BIGINT)
                / 4294967296.0 * p < c * 16.0
            AND id NOT IN (SELECT id FROM c0)),
        cand1 AS (SELECT id FROM c0 UNION SELECT id FROM pick1),
        cv1 AS (SELECT v.id, v.vec FROM v JOIN cand1 ON cand1.id = v.id),
        cost2 AS (
          SELECT v.id, min(
            list_reduce(list_prepend(0.0, list_transform(range(1, 65),
              i -> (v.vec[i] - cv1.vec[i]) * (v.vec[i] - cv1.vec[i]))),
              (acc, x) -> acc + x)) AS c
          FROM v CROSS JOIN cv1 GROUP BY v.id),
        psi2 AS (SELECT sum(c) AS p FROM cost2),
        pick2 AS (
          SELECT id FROM cost2, psi2
          WHERE CAST(('0x' || substr(md5('42:r2:' || CAST(id AS VARCHAR)), 1, 8)) AS BIGINT)
                / 4294967296.0 * p < c * 16.0
            AND id NOT IN (SELECT id FROM cand1)),
        cand AS (SELECT id FROM cand1 UNION SELECT id FROM pick2),
        cv AS (SELECT v.id, v.vec FROM v JOIN cand ON cand.id = v.id),
        asg AS (
          SELECT id, cid FROM (
            SELECT v.id, cv.id AS cid,
              row_number() OVER (PARTITION BY v.id ORDER BY
                list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                  i -> v.vec[i] * cv.vec[i])), (acc, x) -> acc + x)
                / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                     i -> v.vec[i] * v.vec[i])), (acc, x) -> acc + x))
                 * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                     i -> cv.vec[i] * cv.vec[i])), (acc, x) -> acc + x))) DESC,
                cv.id ASC) AS rn
            FROM v CROSS JOIN cv) WHERE rn = 1),
        wt AS (SELECT cid, count(*) AS w FROM asg GROUP BY cid),
        dmat AS (
          SELECT a.id AS a, b.id AS b,
            list_reduce(list_prepend(0.0, list_transform(range(1, 65),
              i -> (a.vec[i] - b.vec[i]) * (a.vec[i] - b.vec[i]))),
              (acc, x) -> acc + x) AS d
          FROM cv a CROSS JOIN cv b WHERE a.id <> b.id),
        first_pick AS (
          SELECT cv.id FROM cv LEFT JOIN wt ON wt.cid = cv.id
          ORDER BY coalesce(wt.w, 0) DESC, cv.id ASC LIMIT 1),
        sel(step, chosen) AS (
          SELECT 1, [id] FROM first_pick
          UNION ALL
          SELECT step + 1, list_append(chosen, (
            SELECT a FROM (
              SELECT dm.a, min(dm.d) AS md FROM dmat dm
              WHERE NOT list_contains(sel.chosen, dm.a)
                AND list_contains(sel.chosen, dm.b)
              GROUP BY dm.a)
            ORDER BY md DESC, a ASC LIMIT 1))
          FROM sel
          WHERE step < 8
            AND EXISTS (SELECT 1 FROM cand
                        WHERE NOT list_contains(sel.chosen, cand.id))),
        seeds AS (
          SELECT unnest(chosen) AS centroid_id
          FROM sel WHERE step = (SELECT max(step) FROM sel))"""

  private val KmeansParSeedsSql: String =
    s"""WITH RECURSIVE $KmeansParSeedsCtes
        SELECT centroid_id FROM seeds ORDER BY centroid_id"""

  /** Ordered squared-L2 fold over the 8-dim subspace slices — the PQ
    * replays' distance fragment (the d08/d25 bit-exact pattern). */
  private def pqSq(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, 9),
       |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (acc, x) -> acc + x)""".stripMargin

  /** Shared PQ replay CTEs (d09c/d09d/d09e, parameterized for d09f):
    * stride-sampled subspace codebook (8 subspaces x 16 centroids x 8
    * dims over the 64-dim vectors — centroid j of subspace s is the
    * j-th sampled vector's s-th slice, the IVF stride rule reused),
    * then per-(vector, subspace) nearest-centroid codes with squared-L2
    * folded over ascending dims (ordered left fold, the d08/d25
    * bit-exact pattern) and exact ties to the LOWEST cid — ≡ Spark's
    * `array_position(dists, array_min(dists))` first-occurrence rule.
    *
    * `baseCond` restricts which vectors DERIVE the codebook (the `vb`
    * CTE — stride, samples); codes are always computed over ALL
    * vectors against it. TRUE (the d09c/d/e form) makes vb ≡ v; the
    * d09f append replay derives from the base subset and codes the
    * union — the frozen-codebook closed form. */
  private def pqCtes(baseCond: String = "TRUE",
                     defineV: Boolean = true): String = {
    val vCte =
      if (defineV)
        s"""v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM $EMB),
        """
      else ""
    s"""${vCte}vb AS (SELECT * FROM v WHERE $baseCond),
        st AS (SELECT greatest(1, count(*) // 16) AS stride, min(id) AS mn FROM vb),
        samp AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, vec
                 FROM (SELECT id, vec FROM vb, st
                       WHERE (id - mn) % stride = 0 ORDER BY id LIMIT 16)),
        cent AS (SELECT CAST(s.s AS INT) AS sub, CAST(samp.cid AS INT) AS cid,
                        samp.vec[s.s*8+1 : s.s*8+8] AS cvec
                 FROM samp, range(0, 8) s(s)),
        dists AS (SELECT v.id, c.sub, c.cid,
                    ${pqSq("(v.vec[c.sub*8+1 : c.sub*8+8])", "c.cvec")} AS d
                  FROM v CROSS JOIN cent c),
        codes AS (
          SELECT id, sub, cid AS code FROM (
            SELECT id, sub, cid,
              row_number() OVER (PARTITION BY id, sub
                ORDER BY d ASC, cid ASC) AS rn
            FROM dists) WHERE rn = 1)"""
  }
  private val PqCtes: String = pqCtes()

  /** d09b: [[IvfSql]] with the quantizer derived from the BASE subset
    * (vec_id % 5 <> 3) and EVERY vector assigned to it — the
    * closed-form of write(base) + append(shard) under a fixed
    * geometry. */
  private val IvfAppendSql: String = {
    s"""WITH v AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM $EMB),
        vb AS (SELECT * FROM v WHERE id % 5 <> 3),
        st AS (SELECT greatest(1, count(*) // 16) AS stride, min(id) AS mn FROM vb),
        c AS (
          SELECT id AS centroid_id, vec AS cvec FROM vb, st
          WHERE (id - mn) % stride = 0 ORDER BY id LIMIT 16),
        asg AS (
          SELECT id, vec, centroid_id FROM (
            SELECT v.id, v.vec, c.centroid_id,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY ${cosSql("v.vec", "c.cvec")} DESC, c.centroid_id ASC) AS rn
            FROM v CROSS JOIN c) WHERE rn = 1),
        q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
          FROM $EMB WHERE vec_id < 16),
        pr AS (
          SELECT query_id, qvec, centroid_id FROM (
            SELECT q.query_id, q.qvec, c.centroid_id,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${cosSql("q.qvec", "c.cvec")} DESC, c.centroid_id ASC) AS rn
            FROM q CROSS JOIN c) WHERE rn <= 4),
        scored AS (
          SELECT pr.query_id, asg.id,
                 ${dotSql("asg.vec", "pr.qvec")}
                   / (sqrt(${dotSql("asg.vec", "asg.vec")})
                      * sqrt(${dotSql("pr.qvec", "pr.qvec")})) AS cosine
          FROM pr JOIN asg ON pr.centroid_id = asg.centroid_id
          WHERE asg.id <> pr.query_id)
        SELECT query_id, rank, id, cosine FROM (
          SELECT query_id, id, cosine,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, id ASC) AS INT) AS rank
          FROM scored) WHERE rank <= 5
        ORDER BY query_id, rank"""
  }

  /** The IVF-PQ probe CTEs following [[pqCtes]]'s `codes` in the
    * chain — MUST be prefixed by a [[pqCtes]] call, whose `vb`/`st`
    * CTEs carry the base restriction (this fragment reads them, it
    * does not re-restrict): stride IVF centroids from that same base
    * subset, every vector bucketed against them, queries (vec_id < 16)
    * ranked to their nProbe buckets, and per-(query, candidate) ADC
    * terms folded in subspace order. Ends at `sc` (query_id, id,
    * adc_dist) so callers pick their own rank/limit tail (d09e/f take
    * top-5 by ADC; d09g reranks the top-20 exactly). */
  private def IvfPqCoreCtes(nProbe: Int,
                            icCte: Option[String] = None,
                            qCte: Option[String] = None): String = {
    val ic = icCte.getOrElse(
      s"""isamp AS (SELECT id, vec FROM vb, st
                  WHERE (id - mn) % stride = 0 ORDER BY id LIMIT 16),
        ic AS (SELECT id AS centroid_id, vec AS icvec FROM isamp)""")
    val q = qCte.getOrElse(
      s"""q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
              FROM $EMB WHERE vec_id < 16)""")
    s"""$ic,
        iasg AS (SELECT id, centroid_id FROM (
            SELECT v.id, ic.centroid_id,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY ${cosSql("v.vec", "ic.icvec")} DESC,
                              ic.centroid_id ASC) AS rn
            FROM v CROSS JOIN ic) WHERE rn = 1),
        $q,
        pr AS (SELECT query_id, centroid_id FROM (
            SELECT q.query_id, ic.centroid_id,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${cosSql("q.qvec", "ic.icvec")} DESC,
                              ic.centroid_id ASC) AS rn
            FROM q CROSS JOIN ic) WHERE rn <= $nProbe),
        term AS (SELECT q.query_id, codes.id, codes.sub,
                   list_reduce(list_prepend(0.0, list_transform(range(1, 9),
                     i -> ((q.qvec[codes.sub*8+1 : codes.sub*8+8])[i] - c.cvec[i])
                        * ((q.qvec[codes.sub*8+1 : codes.sub*8+8])[i] - c.cvec[i]))),
                     (acc, x) -> acc + x) AS t
                 FROM q JOIN pr ON pr.query_id = q.query_id
                 JOIN iasg ON iasg.centroid_id = pr.centroid_id
                 JOIN codes ON codes.id = iasg.id
                 JOIN cent c ON c.sub = codes.sub AND c.cid = codes.code
                 WHERE codes.id <> q.query_id),
        sc AS (SELECT query_id, id,
                 list_reduce(list_prepend(0.0, list(t ORDER BY sub)),
                   (acc, x) -> acc + x) AS adc_dist
               FROM term GROUP BY query_id, id)"""
  }

  /** The full composed IVF-PQ replay (d09e, and d09f with the
    * quantizer/codebook derived from `baseCond`'s subset): [[pqCtes]]'
    * codes + [[IvfPqCoreCtes]]' pruned ADC scores, top-5 per query. */
  private def IvfPqSql(baseCond: String = "TRUE"): String =
    s"""WITH ${pqCtes(baseCond)},
        ${IvfPqCoreCtes(nProbe = 4)}
        SELECT query_id, rank, id, adc_dist FROM (
          SELECT query_id, id, adc_dist,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_dist ASC, id ASC) AS INT) AS rank
          FROM sc) WHERE rank <= 5
        ORDER BY query_id, rank"""

  /** The QUALITY-SEEDED IVF-PQ replay (d09m, round 19) — the d09e
    * composition with [[KmeansParSeedsCtes]]' kmeans|| seeds swapped in
    * as the coarse quantizer: the full Bahmani seed construction
    * (min-id first center, two cost-chasing md5-coin rounds, the
    * recursive-CTE greedy k-center reduction) derives the 8 coarse
    * centers; [[pqCtes]]' stride codebook encodes every vector and
    * [[IvfPqCoreCtes]]' pruned ADC probe scores against those centers.
    * This gates the served PQ layout's quality-seeding cell
    * (`pqIndexWrite` with a kmeans|| `IndexSpec`, Lloyd iterations = 0 →
    * `ivfPqTopK`) end to end — the one face d09k/d09l left spec-only.
    *
    * Exactness: everything runs on the d09l-integerized vectors
    * (floor(x·4), exact in both engines), so ψ's multi-operand sum,
    * every squared-L2 fold, the stride codebook's distances, and the
    * ADC terms are integer-valued doubles — order-free; cosine ranks
    * add sqrt + one division (single IEEE ops, engine-identical), ties
    * break by id everywhere. The queries CTE reads the SAME
    * integerized v the seeds ride (the Spark side feeds the
    * integerized frame to both the write face and the probe). */
  private val QualityIvfPqSql: String =
    s"""WITH RECURSIVE $KmeansParSeedsCtes,
        ${pqCtes(defineV = false)},
        ${IvfPqCoreCtes(nProbe = 4,
          icCte = Some(
            """ic AS (SELECT s.centroid_id AS centroid_id, v.vec AS icvec
               FROM seeds s JOIN v ON v.id = s.centroid_id)"""),
          qCte = Some(
            "q AS (SELECT id AS query_id, vec AS qvec FROM v WHERE id < 16)"))}
        SELECT query_id, rank, id, adc_dist FROM (
          SELECT query_id, id, adc_dist,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_dist ASC, id ASC) AS INT) AS rank
          FROM sc) WHERE rank <= 5
        ORDER BY query_id, rank"""

  /** The RESERVOIR-SEEDED IVF-PQ replay (d09n, round 19 — d09m's
    * twin, closing the last spec-only quality seeding): the d09e
    * composition with the coarse quantizer swapped for the d09k
    * hash-coin reservoir (bottom-16 ids by `md5('42:res:' || id)` —
    * fixed-width lowercase hex, so Spark's numeric-parse order and
    * DuckDB's substring order agree). Raw double vectors — the d09e
    * exactness argument (ordered folds, first-min ties, single-IEEE-op
    * cosine ranks) needs no integerization here because the reservoir
    * pick involves no float accumulation at all. */
  private val ReservoirIvfPqSql: String =
    s"""WITH ${pqCtes()},
        ${IvfPqCoreCtes(nProbe = 4,
          icCte = Some(
            """ic AS (SELECT id AS centroid_id, vec AS icvec FROM v
               ORDER BY substr(md5('42:res:' || CAST(id AS VARCHAR)), 1, 8), id
               LIMIT 16)"""))}
        SELECT query_id, rank, id, adc_dist FROM (
          SELECT query_id, id, adc_dist,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_dist ASC, id ASC) AS INT) AS rank
          FROM sc) WHERE rank <= 5
        ORDER BY query_id, rank"""

  /** The RESIDUAL IVF-PQ replay (d09i — textbook IVFADC): the stride
    * IVF quantizer assigns every vector, residuals are exact double
    * subtraction `vec - centroid`, the subspace codebook is the stride
    * rule over the RESIDUAL table (same sampled ids — the residual
    * frame keeps v's ids and count), codes quantize residual slices,
    * and each query's lookup terms subtract the PROBED centroid first
    * (the asymmetric side is per (query, centroid)). Same ordered
    * folds and first-min tie rule as [[pqCtes]]. */
  private val ResidualIvfPqSql: String = {
    s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM $EMB),
        st AS (SELECT greatest(1, count(*) // 16) AS stride, min(id) AS mn FROM v),
        isamp AS (SELECT id, vec FROM v, st
                  WHERE (id - mn) % stride = 0 ORDER BY id LIMIT 16),
        ic AS (SELECT id AS centroid_id, vec AS icvec FROM isamp),
        asg AS (SELECT id, centroid_id FROM (
            SELECT v.id, ic.centroid_id,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY ${cosSql("v.vec", "ic.icvec")} DESC,
                              ic.centroid_id ASC) AS rn
            FROM v CROSS JOIN ic) WHERE rn = 1),
        r AS (SELECT v.id, a.centroid_id,
                list_transform(range(1, 65), i -> v.vec[i] - ic.icvec[i]) AS rvec
              FROM v JOIN asg a ON a.id = v.id
              JOIN ic ON ic.centroid_id = a.centroid_id),
        samp AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, rvec
                 FROM (SELECT id, rvec FROM r, st
                       WHERE (id - mn) % stride = 0 ORDER BY id LIMIT 16)),
        cent AS (SELECT CAST(s.s AS INT) AS sub, CAST(samp.cid AS INT) AS cid,
                        samp.rvec[s.s*8+1 : s.s*8+8] AS cvec
                 FROM samp, range(0, 8) s(s)),
        dists AS (SELECT r.id, c.sub, c.cid,
                    ${pqSq("(r.rvec[c.sub*8+1 : c.sub*8+8])", "c.cvec")} AS d
                  FROM r CROSS JOIN cent c),
        codes AS (
          SELECT id, sub, cid AS code FROM (
            SELECT id, sub, cid,
              row_number() OVER (PARTITION BY id, sub
                ORDER BY d ASC, cid ASC) AS rn
            FROM dists) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
              FROM $EMB WHERE vec_id < 16),
        pr AS (SELECT query_id, centroid_id FROM (
            SELECT q.query_id, ic.centroid_id,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${cosSql("q.qvec", "ic.icvec")} DESC,
                              ic.centroid_id ASC) AS rn
            FROM q CROSS JOIN ic) WHERE rn <= 4),
        qr AS (SELECT pr.query_id, pr.centroid_id,
                 list_transform(range(1, 65), i -> q.qvec[i] - ic.icvec[i]) AS qrvec
               FROM pr JOIN q ON q.query_id = pr.query_id
               JOIN ic ON ic.centroid_id = pr.centroid_id),
        term AS (SELECT qr.query_id, codes.id, codes.sub,
                   list_reduce(list_prepend(0.0, list_transform(range(1, 9),
                     i -> ((qr.qrvec[codes.sub*8+1 : codes.sub*8+8])[i] - c.cvec[i])
                        * ((qr.qrvec[codes.sub*8+1 : codes.sub*8+8])[i] - c.cvec[i]))),
                     (acc, x) -> acc + x) AS t
                 FROM qr
                 JOIN asg ON asg.centroid_id = qr.centroid_id
                 JOIN codes ON codes.id = asg.id
                 JOIN cent c ON c.sub = codes.sub AND c.cid = codes.code
                 WHERE codes.id <> qr.query_id),
        sc AS (SELECT query_id, id,
                 list_reduce(list_prepend(0.0, list(t ORDER BY sub)),
                   (acc, x) -> acc + x) AS adc_dist
               FROM term GROUP BY query_id, id)
        SELECT query_id, rank, id, adc_dist FROM (
          SELECT query_id, id, adc_dist,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_dist ASC, id ASC) AS INT) AS rank
          FROM sc) WHERE rank <= 5
        ORDER BY query_id, rank"""
  }

  /** Two per-subspace Lloyd rounds over the stride codebook seed
    * (d09h) — [[KmeansSql]]'s pattern keyed on (sub, cid): assignment
    * is the pqEncode rule (ordered squared-L2 fold over the 8-dim
    * slice, exact ties to the LOWEST cid), means are the sequential
    * id-ordered double fold / count per (sub, cid, dim), empty cells
    * keep the previous centroid via the left join. */
  private val PqKmeansSql: String = {
    def round(i: Int): String = {
      val prev = if (i == 1) "cent" else s"c${i - 1}"
      s"""a$i AS (
          SELECT id, sub, cid AS code FROM (
            SELECT d.id, d.sub, d.cid,
                   row_number() OVER (PARTITION BY d.id, d.sub
                     ORDER BY d.d ASC, d.cid ASC) AS rn
            FROM (SELECT v.id, c.sub, c.cid,
                    ${pqSq("(v.vec[c.sub*8+1 : c.sub*8+8])", "c.cvec")} AS d
                  FROM v CROSS JOIN $prev c) d) WHERE rn = 1),
        m$i AS (
          SELECT sub, cid, list(mm ORDER BY dim) AS cvec
          FROM (
            SELECT sub, code AS cid, dim,
                   list_reduce(list_prepend(0.0, list(x ORDER BY id)),
                     (p, q) -> p + q) / count(*) AS mm
            FROM (
              SELECT a.id, a.sub, a.code, d - 1 AS dim,
                     v.vec[a.sub*8 + d] AS x
              FROM a$i a JOIN v ON v.id = a.id, unnest(range(1, 9)) AS t(d))
            GROUP BY sub, code, dim)
          GROUP BY sub, cid),
        c$i AS (
          SELECT c.sub, c.cid, coalesce(m.cvec, c.cvec) AS cvec
          FROM $prev c LEFT JOIN m$i m ON m.sub = c.sub AND m.cid = c.cid)"""
    }
    s"""WITH ${pqCtes()},
        ${round(1)},
        ${round(2)}
        SELECT sub, cid, CAST(d - 1 AS INT) AS dim, cvec[d] AS value
        FROM c2, unnest(range(1, 9)) AS t(d)
        ORDER BY sub, cid, dim"""
  }

  /** Two Lloyd rounds replayed in SQL: stride seed (as [[IvfSql]]),
    * then per round nearest-centroid assignment (cosine, centroid_id
    * tie-break) and ORDERED-fold per-dimension means (the d25 pattern —
    * sequential id-ordered double fold / count is bit-identical across
    * engines, unlike avg()). Empty clusters keep their previous
    * centroid via the left join. */
  private val KmeansSql: String = {
    def round(i: Int): String = {
      val prev = s"c${i - 1}"
      s"""a$i AS (
          SELECT id, vec, centroid_id FROM (
            SELECT v.id, v.vec, c.centroid_id,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY ${cosSql("v.vec", "c.cvec")} DESC, c.centroid_id ASC) AS rn
            FROM v CROSS JOIN $prev c) WHERE rn = 1),
        m$i AS (
          SELECT centroid_id, list(mm ORDER BY dim) AS cvec
          FROM (
            SELECT centroid_id, dim,
                   list_reduce(list_prepend(0.0, list(x ORDER BY id)),
                     (p, q) -> p + q) / count(*) AS mm
            FROM (
              SELECT centroid_id, id, d - 1 AS dim, vec[d] AS x
              FROM a$i, unnest(range(1, 65)) AS t(d))
            GROUP BY centroid_id, dim)
          GROUP BY centroid_id),
        c$i AS (
          SELECT c.centroid_id, coalesce(m.cvec, c.cvec) AS cvec
          FROM $prev c LEFT JOIN m$i m ON c.centroid_id = m.centroid_id)"""
    }
    s"""WITH v AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM $EMB),
        st AS (SELECT greatest(1, count(*) // 16) AS stride, min(id) AS mn FROM v),
        c0 AS (
          SELECT id AS centroid_id, vec AS cvec FROM v, st
          WHERE (id - mn) % stride = 0 ORDER BY id LIMIT 16),
        ${round(1)},
        ${round(2)}
        SELECT centroid_id, CAST(d - 1 AS INT) AS dim, cvec[d] AS value
        FROM c2, unnest(range(1, 65)) AS t(d)
        ORDER BY centroid_id, dim"""
  }

  /** Hyperplane-LSH near-dups replayed with the SAME ±1 plane literals
    * the Spark operator bakes in ([[Dedup.planeSigns]]). */
  private val EmbeddingNearDupSql: String = {
    val signs = Dedup.planeSigns(planes = 4, dim = 64)
    def signList(p: Int) =
      signs(p).map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    def planeDot(p: Int) =
      s"""list_reduce(list_prepend(0.0, list_transform(range(1, len(vec)+1),
         |              i -> vec[i] * (${signList(p)})[i])), (acc, x) -> acc + x)""".stripMargin
    val bucket = (0 until 4).map(p =>
      s"(CASE WHEN ${planeDot(p)} >= 0 THEN '1' ELSE '0' END)")
      .mkString("\n               || ")
    s"""WITH v AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM $EMB),
        b AS (
          SELECT id, vec, sqrt(${dotSql("vec", "vec")}) AS n,
               $bucket AS bucket
          FROM v),
        pairs AS (
          SELECT a.id AS id_a, bb.id AS id_b,
                 ${dotSql("a.vec", "bb.vec")} / (a.n * bb.n) AS cosine
          FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.id < bb.id)
        SELECT id_a, id_b, cosine FROM pairs
        WHERE cosine >= 0.25 ORDER BY id_a, id_b"""
  }

  /** The BANDED hyperplane-LSH pipeline replayed in DuckDB: per-table
    * bucket strings (each table's ±1 plane matrix baked as literals from
    * [[Dedup.planeSignsSeeded]]), union of per-table bucket collisions,
    * one exact-cosine verify. */
  /** The fixed-parameter banded hyperplane-LSH replay, with the pair
    * condition a parameter (the same trick [[minhashPairsSqlCond]]
    * plays for text): `a.id < bb.id` gives the d10a all-pairs form; a
    * side-splitting predicate gives the d10c batch-vs-index form. */
  private def embBandedPairsSql(tables: Int, planes: Int,
                                threshold: Double, pairCond: String): String = {
    def signList(s: Array[Double]) =
      s.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    def planeDot(s: Array[Double]) =
      s"""list_reduce(list_prepend(0.0, list_transform(range(1, len(vec)+1),
         |              i -> vec[i] * (${signList(s)})[i])), (acc, x) -> acc + x)""".stripMargin
    def bucketExpr(tbl: Int) = {
      val signs = Dedup.planeSignsSeeded(tbl, planes, 64)
      (0 until planes).map(p =>
        s"(CASE WHEN ${planeDot(signs(p))} >= 0 THEN '1' ELSE '0' END)")
        .mkString("\n               || ")
    }
    val bucketCols = (0 until tables)
      .map(tbl => s"${bucketExpr(tbl)} AS bucket_t$tbl")
      .mkString(",\n               ")
    val caseArms = (0 until tables)
      .map(tbl => s"WHEN $tbl THEN bucket_t$tbl").mkString(" ")
    s"""WITH v AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM $EMB),
        b AS (
          SELECT id, vec, sqrt(${dotSql("vec", "vec")}) AS n,
               $bucketCols
          FROM v),
        br AS (
          SELECT id, tbl, CASE tbl $caseArms END AS bucket
          FROM b, unnest(range(0, $tables)) AS t(tbl)),
        cand AS (
          SELECT DISTINCT a.id AS id_a, bb.id AS id_b
          FROM br a JOIN br bb
            ON a.tbl = bb.tbl AND a.bucket = bb.bucket AND $pairCond),
        pairs AS (
          SELECT id_a, id_b, ${dotSql("x.vec", "y.vec")} / (x.n * y.n) AS cosine
          FROM cand JOIN b x ON cand.id_a = x.id JOIN b y ON cand.id_b = y.id)
        SELECT id_a, id_b, cosine FROM pairs
        WHERE cosine >= $threshold ORDER BY id_a, id_b"""
  }

  private val EmbeddingNearDupBandedSql: String =
    embBandedPairsSql(3, 4, 0.25, "a.id < bb.id")

  /** d10c: the SAME banded construction, pairs restricted to
    * batch (id % 10 = 0) x index (id % 10 <> 0) — replaying the
    * incremental form's side split. */
  private val EmbeddingNearDupIncrementalSql: String =
    embBandedPairsSql(3, 4, 0.25, "a.id % 10 = 0 AND bb.id % 10 <> 0")

  /** d55: the two-batch EMBEDDING ingest fold replayed in SQL — the
    * vector twin of [[D52Sql]]. Batch A = vec_id ≡ 0,1 (mod 4), batch
    * B = ≡ 2,3 (BatchFiles splits=4 drained 2 per trigger). All
    * verified near-dup pairs come from the fixed (3, 4) banded
    * construction ([[embBandedPairsSql]], cosine >= 0.25); the loop's
    * rule is pair DOMINATION (the semanticDedup one), not transitive
    * closure: within a batch every id_b of a within-batch pair drops
    * (pairs are id_a < id_b over the FULL batch), then a B id pairing
    * any A-SURVIVOR drops. No fingerprint side — an exact duplicate is
    * cosine 1 and always collides. */
  private val D55Sql: String = s"""WITH p_all AS (
          SELECT id_a, id_b FROM (
            ${embBandedPairsSql(3, 4, 0.25, "a.id < bb.id")})),
        a_drop AS (SELECT id_b AS id FROM p_all
                   WHERE id_a % 4 < 2 AND id_b % 4 < 2),
        s_a AS (SELECT vec_id AS id FROM $EMB
                WHERE vec_id % 4 < 2
                  AND vec_id NOT IN (SELECT id FROM a_drop)),
        b_drop AS (
          SELECT id_b AS id FROM p_all
          WHERE id_a % 4 >= 2 AND id_b % 4 >= 2
          UNION
          SELECT p.id_a FROM p_all p JOIN s_a ON p.id_b = s_a.id
          WHERE p.id_a % 4 >= 2
          UNION
          SELECT p.id_b FROM p_all p JOIN s_a ON p.id_a = s_a.id
          WHERE p.id_b % 4 >= 2),
        s_b AS (SELECT vec_id AS id FROM $EMB
                WHERE vec_id % 4 >= 2
                  AND vec_id NOT IN (SELECT id FROM b_drop))
        SELECT e.vec_id, e.label FROM $EMB e
        WHERE e.vec_id IN (SELECT id FROM s_a UNION SELECT id FROM s_b)
        ORDER BY e.vec_id"""

  /** The shared MinHash-LSH CTE chain (shingles -> signatures -> banded
    * rows) — prefixed by every oracle that replays the LSH pipeline
    * (d05/d21/d30/d49 pair forms and the d52 two-batch fold). */
  private val MinhashCtes: String = s"""docs AS (
          SELECT doc_id AS id,
                 list_distinct(list_filter(
                   list_transform(range(1, len(toks) - 2),
                     i -> array_to_string(toks[i:i+3], ' ')),
                   x -> x <> '')) AS sh
          FROM (SELECT doc_id, $TOKS AS toks FROM documents)
          WHERE len(toks) >= 4),
        sigs AS (
          SELECT id, sh,
                 list_transform(range(0, 16),
                   i -> list_min(list_transform(sh,
                     x -> substr(md5((i // 4)::VARCHAR || ':' || x),
                                 CAST((i % 4) * 8 + 1 AS INT), 8)))) AS sig
          FROM docs WHERE len(sh) > 0),
        banded AS (
          SELECT id, sh,
                 unnest(list_transform(range(0, 8),
                   b -> {'band': b, 'bsig': md5(array_to_string(sig[b*2+1:b*2+2], ','))}),
                   recursive := true)
          FROM sigs)"""

  /** The full MinHash-LSH pipeline replayed in DuckDB SQL, with the
    * pair-join condition a parameter: `a.id < b.id` gives the d05
    * all-pairs form; a side-splitting predicate gives the d49
    * new-batch-vs-index form. */
  private def minhashPairsSqlCond(pairCond: String): String = s"""WITH $MinhashCtes,
        pairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b
          FROM banded a JOIN banded b ON a.band = b.band AND a.bsig = b.bsig
           AND $pairCond)
        SELECT id_a, id_b,
               len(list_intersect(sh_a, sh_b))
                 / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS jaccard
        FROM pairs
        WHERE len(list_intersect(sh_a, sh_b))
                / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= 0.3
        ORDER BY id_a, id_b"""

  /** Shared by the d05 pair check and the d21/d30 cluster closures. */
  private val MinhashPairsSql: String = minhashPairsSqlCond("a.id < b.id")

  /** 64-bit wrapping multiply mod 2^64 in DuckDB: HUGEINT is a SIGNED
    * 128-bit type, so a full 64x64 product overflows — split each factor
    * into 32-bit halves (classic schoolbook low-word recovery; partials
    * stay under 2^66). */
  private def mul64Sql(a: String, b: String): String =
    s"""((($a) % 4294967296::HUGEINT) * (($b) % 4294967296::HUGEINT)
       |   + (((($a) % 4294967296::HUGEINT) * (($b) >> 32)
       |   + (($a) >> 32) * (($b) % 4294967296::HUGEINT))
       |   % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT""".stripMargin

  private def listDotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1),
       |            i -> $a[i] * ($b)[i])), (acc, x) -> acc + x)""".stripMargin

  /** d10b: the AUTO hyperplane-LSH replayed end to end in DuckDB —
    * including the seeded plane matrices. The Spark side derives
    * (tables L, planes r) from `bandsFor(count)` and the ±1 planes from
    * `splitmix64(tbl * golden + p * 1000003 + j) & 1`; the SQL recomputes
    * BOTH from the data: (L, r) via the same occupancy/recall formulas
    * (the ceil arguments sit 0.66-0.85 away from integers at every
    * driver SF, so ln(1-x)-vs-log1p rounding cannot flip them) and the
    * signs via a bit-exact splitmix64 over HUGEINT mod-2^64 arithmetic
    * ([[mul64Sql]]). Validated bit-exact against the Spark pairs at
    * sf0.01 (54 pairs) and sf0.1 (L=57, r=7; 859 pairs), cosine delta
    * 0.0. */
  /** The derived-parameter hyperplane-LSH replay, parameterized (round
    * 15) by the bandsFor SIZE source (`nSql` — the full table for the
    * d10b self form, the index side for the d10d incremental form) and
    * the candidate pair condition (`candCond` — `a.id < bb.id` for
    * unordered self pairs, a side-splitting predicate for batch x
    * index). Everything else — the splitmix64 seeded planes in HUGEINT
    * mod-2^64 arithmetic, the data-derived grid extents, the
    * bucket-string construction — is shared verbatim, so d10b's proven
    * bit-exact replay gates the incremental auto form too. */
  private def hyperplaneAutoSql(nSql: String, candCond: String): String = {
    val golden = "11400714819323198485::HUGEINT"
    s"""WITH prm AS (
          SELECT r, CAST(least(CASE WHEN pr >= 1.0 THEN 1.0
                       ELSE greatest(ceil(ln(1.0 - 0.9) / ln(1.0 - pr)), 1.0) END,
                     64.0) AS INT) AS l
          FROM (SELECT r, power(1.0 - acos(least(1.0, 0.4)) / pi(), r) AS pr
                FROM (SELECT greatest(4, coalesce(
                    (SELECT CAST(min(p) AS INT) FROM range(1, 62) t(p)
                     WHERE (($nSql) >> CAST(p AS INT)) <= 16), 62)) AS r))),
        -- plane-grid extents are DERIVED, not assumed (r11 advice): the
        -- tbl range matches bandsFor's maxTables=64 clamp, the p range
        -- matches planesFor's hard cap (p < 62 loop bound, so r <= 62
        -- always), and the per-plane width comes from the DATA via a
        -- lateral unnest — with a loud error() if the embedding column
        -- is ragged (the Spark side would have failed on it too).
        dm AS (
          SELECT CASE WHEN min(len(embedding)) = max(len(embedding))
                 THEN CAST(max(len(embedding)) AS INT)
                 ELSE error('d10b oracle: ragged embedding dimensions') END AS nd
          FROM $EMB),
        seeds AS (
          SELECT CAST(t.tbl AS INT) AS tbl, CAST(p.p AS INT) AS p, CAST(u.j AS INT) AS j,
                 (t.tbl::HUGEINT * $golden
                  + p.p::HUGEINT * 1000003::HUGEINT + u.j::HUGEINT
                  + $golden) % 18446744073709551616::HUGEINT AS z1
          FROM range(0, 64) t(tbl), range(0, 62) p(p), dm,
               unnest(range(0, dm.nd)) u(j)
          WHERE t.tbl < (SELECT l FROM prm) AND p.p < (SELECT r FROM prm)),
        s1 AS (SELECT tbl, p, j,
                 ${mul64Sql("xor(z1, z1 >> 30)", "13787848793156543929::HUGEINT")} AS z2
               FROM seeds),
        s2 AS (SELECT tbl, p, j,
                 ${mul64Sql("xor(z2, z2 >> 27)", "10723151780598845931::HUGEINT")} AS z3
               FROM s1),
        planes AS (
          SELECT tbl, p, list(CASE WHEN xor(z3, z3 >> 31) % 2 = 1 THEN 1.0 ELSE -1.0 END
                              ORDER BY j) AS s
          FROM s2 GROUP BY tbl, p),
        v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM $EMB),
        b AS (SELECT id, vec, sqrt(${listDotSql("vec", "vec")}) AS n FROM v),
        dots AS (
          SELECT v.id, pl.tbl, pl.p,
                 CASE WHEN ${listDotSql("v.vec", "pl.s")} >= 0 THEN '1' ELSE '0' END AS bit
          FROM v, planes pl),
        br AS (SELECT id, tbl, string_agg(bit, '' ORDER BY p) AS bucket
               FROM dots GROUP BY id, tbl),
        cand AS (SELECT DISTINCT a.id AS id_a, bb.id AS id_b
                 FROM br a JOIN br bb
                   ON a.tbl = bb.tbl AND a.bucket = bb.bucket AND $candCond),
        pairs AS (SELECT id_a, id_b, ${listDotSql("x.vec", "y.vec")} / (x.n * y.n) AS cosine
                  FROM cand JOIN b x ON cand.id_a = x.id JOIN b y ON cand.id_b = y.id)
        SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.4 ORDER BY id_a, id_b"""
  }

  private val D10bSql: String =
    hyperplaneAutoSql(s"SELECT count(*) FROM $EMB", "a.id < bb.id")

  /** d10d: (L, r) from the INDEX side's count (vec_id % 10 <> 0), pairs
    * strictly cross-side (batch id_a, index id_b). */
  private val D10dSql: String = hyperplaneAutoSql(
    s"SELECT count(*) FROM $EMB WHERE vec_id % 10 <> 0",
    "a.id % 10 = 0 AND bb.id % 10 <> 0")

  /** d49: new batch = ids ≡ 0 (mod 3), index = the rest. */
  private val IncrementalPairsSql: String =
    minhashPairsSqlCond("a.id % 3 = 0 AND b.id % 3 <> 0")

  /** d52: the two-batch streaming-ingest fold replayed in SQL. Batch A =
    * ids ≡ 0,1 (mod 4) (files b00+b01, drained together at
    * maxFilesPerTrigger=2), batch B = ids ≡ 2,3. The index after batch A
    * holds exactly A's dedupCorpus survivors (d30 rule restricted to A:
    * transitive near-dup clusters keep the min id; exact-fingerprint
    * groups keep the min id, NULLs grouped); batch B keeps its own
    * dedupCorpus survivors minus docs with a near-dup LSH pair
    * (jaccard >= 0.3) or a null-safe exact-fingerprint match against an
    * A-survivor — dedupIncrement's cross-hit anti join. All unordered
    * candidate pairs come from one banded self-join; batch membership is
    * pure id arithmetic, so the fold is a closed-form query. */
  private val D52Sql: String = s"""WITH RECURSIVE $MinhashCtes,
        p_all AS (
          SELECT id_a, id_b FROM (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bsig = b.bsig AND a.id < b.id)
          WHERE len(list_intersect(sh_a, sh_b))
                / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= 0.3),
        fpd AS (SELECT doc_id AS id,
                  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
                FROM documents),
        ea AS (SELECT id_a AS u, id_b AS v FROM p_all WHERE id_a % 4 < 2 AND id_b % 4 < 2
               UNION SELECT id_b, id_a FROM p_all WHERE id_a % 4 < 2 AND id_b % 4 < 2),
        ra(u, v) AS (SELECT u, v FROM ea
                     UNION SELECT ra.u, ea.v FROM ra JOIN ea ON ra.v = ea.u),
        a_drop AS (
          SELECT u AS id FROM ra GROUP BY u HAVING least(u, min(v)) <> u
          UNION
          SELECT id FROM (SELECT id, min(id) OVER (PARTITION BY fp) AS rep
                          FROM fpd WHERE id % 4 < 2) WHERE id <> rep),
        s_a AS (SELECT id FROM fpd WHERE id % 4 < 2
                AND id NOT IN (SELECT id FROM a_drop)),
        eb AS (SELECT id_a AS u, id_b AS v FROM p_all WHERE id_a % 4 >= 2 AND id_b % 4 >= 2
               UNION SELECT id_b, id_a FROM p_all WHERE id_a % 4 >= 2 AND id_b % 4 >= 2),
        rb(u, v) AS (SELECT u, v FROM eb
                     UNION SELECT rb.u, eb.v FROM rb JOIN eb ON rb.v = eb.u),
        b_drop AS (
          SELECT u AS id FROM rb GROUP BY u HAVING least(u, min(v)) <> u
          UNION
          SELECT id FROM (SELECT id, min(id) OVER (PARTITION BY fp) AS rep
                          FROM fpd WHERE id % 4 >= 2) WHERE id <> rep
          UNION
          SELECT p.id_a FROM p_all p JOIN s_a ON p.id_b = s_a.id
          WHERE p.id_a % 4 >= 2 AND p.id_b % 4 < 2
          UNION
          SELECT p.id_b FROM p_all p JOIN s_a ON p.id_a = s_a.id
          WHERE p.id_b % 4 >= 2 AND p.id_a % 4 < 2
          UNION
          SELECT b.id FROM fpd b JOIN s_a ON TRUE
          JOIN fpd a ON a.id = s_a.id AND b.fp IS NOT DISTINCT FROM a.fp
          WHERE b.id % 4 >= 2),
        s_b AS (SELECT id FROM fpd WHERE id % 4 >= 2
                AND id NOT IN (SELECT id FROM b_drop))
        SELECT d.doc_id, d.lang FROM documents d
        WHERE d.doc_id IN (SELECT id FROM s_a UNION SELECT id FROM s_b)
        ORDER BY d.doc_id"""

  /** d48: duplicate k-gram span removal replayed in DuckDB — positioned
    * gram rows, duplicated-gram set (count >= 2), k-position cover,
    * anti-marked re-assembly via ordered string_agg. Mirrors
    * [[graft.datax.Dedup.dupSpanRemoval]] at k=4. */
  private val DupSpansSql: String = s"""WITH toks AS (
          SELECT doc_id AS id, $TOKS AS tk FROM documents),
        tok AS (
          SELECT id, unnest(list_transform(range(1, len(tk) + 1),
                   i -> {'pos': CAST(i - 1 AS INT), 't': tk[i]}),
                   recursive := true)
          FROM toks),
        g AS (
          SELECT id, unnest(list_transform(range(1, len(tk) - 2),
                   i -> {'pos': CAST(i - 1 AS INT),
                         'g': md5(array_to_string(tk[i:i+3], ' '))}),
                   recursive := true)
          FROM toks WHERE len(tk) >= 4),
        dup AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
        cov AS (SELECT DISTINCT g.id, g.pos + CAST(j AS INT) AS pos
                FROM g JOIN dup USING (g), range(0, 4) r(j)),
        fl AS (SELECT tok.id, tok.pos, tok.t, cov.pos IS NOT NULL AS c
               FROM tok LEFT JOIN cov ON tok.id = cov.id AND tok.pos = cov.pos)
        SELECT id AS doc_id,
               md5(coalesce(string_agg(CASE WHEN NOT c THEN t END, ' '
                                       ORDER BY pos), '')) AS clean_fp,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(*) FILTER (WHERE c) AS BIGINT) AS n_dropped
        FROM fl GROUP BY id ORDER BY doc_id"""

  /** Exact shingle-containment contamination scan, shared verbatim by
    * d23 (exhaustive) and d23a (bloom-prefiltered, lossless). */
  private val ContaminationSql: String = s"""WITH sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_filter(
                   list_transform(range(1, len(toks) - 2),
                     i -> array_to_string(toks[i:i+3], ' ')),
                   x -> x <> '')) AS sh
          FROM (SELECT doc_id, $TOKS AS toks FROM documents)
          WHERE len(toks) >= 4),
        bench AS (SELECT * FROM sh WHERE id % 29 = 0 AND len(sh) > 0),
        corpus AS (SELECT * FROM sh WHERE id % 29 <> 0 AND len(sh) > 0)
        SELECT b.id AS bench_id, c.id AS corpus_id,
               len(list_intersect(b.sh, c.sh)) / len(b.sh) AS containment
        FROM bench b JOIN corpus c ON len(list_intersect(b.sh, c.sh)) > 0
        WHERE len(list_intersect(b.sh, c.sh)) / len(b.sh) >= 0.5
        ORDER BY bench_id, corpus_id"""

  /** The d53 streaming-as-of drive (header comment on the d53 entry):
    * shared by the json and binary payload-codec registry entries. */
  private def d53Drive(s: org.apache.spark.sql.SparkSession, dir: String,
                       codec: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tmp = java.nio.file.Files.createTempDirectory("graft-d53").toString
    try {
      val e = t(s, dir, "events")
      // single-partition window: harness-side split assignment over
      // fixture-scale data (BatchFiles scaladoc), not a shipped path
      val half = ntile(2).over(Window.orderBy(col("ts"), col("id"))) - 1
      // validate-at-ingest: rows without a key or event time cannot
      // participate in keyed watermark semantics (asofJoinStream also
      // drops them internally as crash protection, but filtering HERE
      // keeps the watermark — max ts over rows reaching the engine's
      // watermark node — a well-defined function of the valid rows on
      // both the drive and oracle sides)
      val clicks = e.filter(col("event_type") === "click" &&
          col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id").as("key"), col("ts"),
          col("event_id").as("id"))
      val views = e.filter(col("event_type") === "view" &&
          col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy("user_id", "ts").agg(max("event_id").as("id"))
        .select(col("user_id").as("key"), col("ts"), col("id"))
      // keepSplitCol=false: the synthetic half column must not leak
      // into the generic-payload drive (it would ride along as
      // left_half/right_half output columns)
      BatchFiles.write(clicks.withColumn("half", half),
        s"$tmp/left", "half", splits = 2, keepSplitCol = false)
      BatchFiles.write(views.withColumn("half", half),
        s"$tmp/right", "half", splits = 2, keepSplitCol = false)
      // statePartitions sized to the fixture key cardinality (1.5k
      // keys) per the SCALE.md sizing rule; a scratch checkpoint, so
      // the pin dies with the entry (production sizes for the
      // TARGET cluster up front — the value is unchangeable later)
      // the final AvailableNow watermark, recomputed from the same
      // inputs the drive writes: min over sources of the
      // ms-truncated max event time, minus the delay
      val wBound = clicks.agg(max("ts").as("mc"))
        .crossJoin(views.agg(max("ts").as("mv")))
        .select((date_trunc("millisecond", least(col("mc"), col("mv")))
          - expr("INTERVAL 10 MINUTES")).as("w"))
      StreamOps.asofJoinStreamFiles(s, s"$tmp/left", s"$tmp/right",
          s"$tmp/ckpt", s"$tmp/out",
          delay = "10 minutes", maxFilesPerTrigger = 1,
          payloadCodec = codec, statePartitions = Some(4))
        .crossJoin(broadcast(wBound))
        .filter(col("left_ts") < col("w")) // boundary-instant exclusion (header comment)
        .drop("w")
        .select(col("key"), col("left_id"),
          date_format(col("left_ts"), "yyyy-MM-dd HH:mm:ss").as("left_ts"),
          col("right_id"),
          date_format(col("right_ts"), "yyyy-MM-dd HH:mm:ss").as("right_ts"))
        .orderBy("key", "left_id")
        .localCheckpoint(eager = true)
    } finally rmrf(s, tmp)
  }

  private val D53AsofSql: String = """WITH v AS (
          -- null key/ts rows are invalid for keyed watermark semantics
          -- and are filtered at ingest on the drive side too
          SELECT user_id, ts, max(event_id) AS right_id FROM events
          WHERE event_type = 'view' AND user_id IS NOT NULL
            AND ts IS NOT NULL
          GROUP BY user_id, ts),
        c AS (
          SELECT user_id AS key, event_id AS left_id, ts FROM events
          WHERE event_type = 'click' AND user_id IS NOT NULL
            AND ts IS NOT NULL),
        -- the final AvailableNow watermark: min over sources of the
        -- ms-truncated max event time, minus the 10-minute delay
        wm AS (
          SELECT date_trunc('milliseconds', CAST(least(
                   (SELECT max(ts) FROM c),
                   (SELECT max(ts) FROM v)) AS TIMESTAMP))
                 - INTERVAL 10 MINUTES AS w)
        SELECT r.key, r.left_id,
               strftime(CAST(r.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS left_ts,
               v.right_id,
               strftime(CAST(v.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS right_ts
        FROM (SELECT * FROM c
              WHERE CAST(ts AS TIMESTAMP) < (SELECT w FROM wm)) r
        ASOF LEFT JOIN v
          ON r.key = v.user_id AND v.ts <= r.ts
        ORDER BY r.key, r.left_id"""

  val defs: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------
    // Text analysis (token counting, fingerprinting, language ID,
    // quality scoring) — all scan-side column expressions, no shuffle.
    // ---------------------------------------------------------------

    QueryDef("d01_text_stats",
      (s, dir) => t(s, dir, "documents").select(
          col("doc_id"),
          TextStats.tokenCountWs(col("text")).as("n_tokens_ws"),
          TextStats.tokenCountBpe(col("text")).as("n_tokens_bpe"),
          TextStats.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
          CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens_ws,
          CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_tokens_bpe,
          md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        FROM documents ORDER BY doc_id""")),

    /* Exact dedup: one shuffle on the 16-byte digest, map-side partial agg. */
    QueryDef("d02_exact_dedup",
      (s, dir) => Dedup.exactDupGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("fp"),
      Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
               min(doc_id) AS representative, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1 ORDER BY fp""")),

    QueryDef("d03_lang_id",
      (s, dir) => t(s, dir, "documents").select(
          col("doc_id"), col("lang"),
          TextStats.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang,
          CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
               WHEN $en >= $de AND $en >= $fr AND $en >= $es AND $en > 0 THEN 'en'
               WHEN $de >= $fr AND $de >= $es AND $de > 0 THEN 'de'
               WHEN $fr >= $es AND $fr > 0 THEN 'fr'
               WHEN $es > 0 THEN 'es'
               ELSE 'und' END AS lang_pred
        FROM documents ORDER BY doc_id""")),

    QueryDef("d04_quality_score",
      (s, dir) => t(s, dir, "documents").select(
          col("doc_id"),
          TextStats.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
          CASE WHEN length(text) = 0 THEN 0.0 ELSE
            (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
               / length(text)::DOUBLE) * 0.5
            + least(($en::DOUBLE / len($TOKS)::DOUBLE) * 5.0, 1.0) * 0.2
            + (CASE WHEN (length(text)::DOUBLE - (len($TOKS)::DOUBLE - 1.0))
                           / len($TOKS)::DOUBLE BETWEEN 3.0 AND 10.0
                    THEN 1.0 ELSE 0.5 END) * 0.3
          END AS quality
        FROM documents ORDER BY doc_id""")),

    // ---------------------------------------------------------------
    // Near-duplicate detection
    // ---------------------------------------------------------------

    /* MinHash+LSH: signatures computed scan-side; only (id, band, bsig)
     * shuffles; verification touches bucket collisions only. The oracle
     * replays the ENTIRE pipeline (shingles -> 16 md5 minhashes -> 8
     * 2-row band digests -> bucket join -> exact-jaccard verify). */
    QueryDef("d05_minhash_neardups",
      (s, dir) => Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          k = 4, numHashes = 16, bands = 8, threshold = 0.3)
        .orderBy("id_a", "id_b"),
      Some(MinhashPairsSql)),

    /* Near-dup pair list -> connected-component CLUSTERS (the "one
     * representative per group" step). Spark runs min-label propagation
     * to fixpoint; the oracle computes the same transitive min via a
     * recursive CTE over the full replayed MinHash pipeline. */
    QueryDef("d21_dup_clusters",
      (s, dir) => Dedup.dupClusters(
          Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
            k = 4, numHashes = 16, bands = 8, threshold = 0.3))
        .orderBy("id"),
      Some(s"""WITH RECURSIVE p AS ($MinhashPairsSql),
        e AS (SELECT id_a AS u, id_b AS v FROM p
              UNION SELECT id_b, id_a FROM p),
        r(u, v) AS (SELECT u, v FROM e
                    UNION SELECT r.u, e.v FROM r JOIN e ON r.v = e.u)
        SELECT u AS id, least(u, min(v)) AS cluster
        FROM r GROUP BY u ORDER BY id""")),

    /* The end-to-end corpus dedup: clusters -> keep min-id
     * representative -> surviving docs. Composes the d05/d21 pipeline
     * and prunes with a broadcast anti join; the oracle drops every
     * cluster member whose transitive min label isn't itself. */
    QueryDef("d30_dedup_corpus",
      (s, dir) => Dedup.dedupCorpus(t(s, dir, "documents"), "doc_id", "text",
          k = 4, numHashes = 16, bands = 8, threshold = 0.3)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE p AS ($MinhashPairsSql),
        e AS (SELECT id_a AS u, id_b AS v FROM p
              UNION SELECT id_b, id_a FROM p),
        r(u, v) AS (SELECT u, v FROM e
                    UNION SELECT r.u, e.v FROM r JOIN e ON r.v = e.u),
        dropped AS (SELECT u AS id FROM r GROUP BY u
                    HAVING least(u, min(v)) <> u),
        fpd AS (SELECT doc_id,
                  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
                FROM documents),
        exact_dropped AS (
          SELECT doc_id AS id FROM (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS rep FROM fpd)
          WHERE doc_id <> rep)
        SELECT doc_id, lang FROM documents
        WHERE doc_id NOT IN (SELECT id FROM dropped
                             UNION SELECT id FROM exact_dropped)
        ORDER BY doc_id""")),

    /* INCREMENTAL dedup: new-batch-vs-index near-dup pairs — the
     * operational 100 TB shape (a new snapshot dedups against the
     * standing corpus; corpus×corpus is never re-paired). Batch = ids
     * ≡ 0 (mod 3); same LSH parameters as d05, so the index band table
     * is the one a store would keep precomputed. */
    QueryDef("d49_incremental_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.incrementalNearDups(
            docs.filter(col("doc_id") % 3 === 0),
            docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
            k = 4, numHashes = 16, bands = 8, threshold = 0.3)
          .orderBy("id_a", "id_b")
      },
      Some(IncrementalPairsSql)),

    /* STREAMING ingest drive — the d49 loop under Structured Streaming:
     * the documents table replayed as 4 single-file splits (BatchFiles
     * pins replay order), drained as 2 AvailableNow micro-batches of 2
     * files each (maxFilesPerTrigger=2 — the bench-cost floor of this
     * entry is ~3-4 s of fixed micro-batch machinery PER BATCH, measured
     * flat in index size; 2 batches still exercise the cross-batch
     * index path, SCALE.md "streaming-drive bench cost"), so batch 1
     * dedups against the index batch 0 built — stored band signatures
     * and fingerprints, the continuous-crawl shape a 100 TB pipeline
     * runs. ORACLE-GATED (round 11; formerly rows-only): the fold is
     * deterministic — 2 batches whose membership is pure id arithmetic
     * — so [[D52Sql]] replays it closed-form (batch A's d30-rule
     * survivors become the index; batch B anti-joins its near/exact
     * hits against them); StreamingSpec additionally pins the drive ≡
     * the sequential processBatch composition AND ≡ the fold-wise d49
     * dedupIncrement over the same splits. Inputs/index/checkpoint are
     * scratch dirs, deleted before returning (the result is
     * lineage-cut). */
    QueryDef("d52_streaming_ingest",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-d52").toString
        try {
          BatchFiles.write(t(s, dir, "documents").select("doc_id", "text", "lang"),
            s"$tmp/src", "doc_id", splits = 4)
          DedupStream.ingestAvailableNow(s, s"$tmp/src", s"$tmp/index",
              s"$tmp/ckpt", "doc_id", "text",
              k = 4, numHashes = 16, bands = 8, threshold = 0.3,
              maxFilesPerTrigger = 2)
            .select("doc_id", "lang")
            .orderBy("doc_id")
        } finally rmrf(s, tmp)
      },
      Some(D52Sql)),

    /* Duplicate n-gram SPAN removal (the Lee et al. 2022
     * exact-substring-dedup shape): corpus-duplicated k-grams mark their
     * token positions, marked tokens are dropped, documents re-assemble
     * from the survivors. clean_fp = md5(cleaned text) keeps the
     * compare exact without shipping full text (the d24 pattern). */
    QueryDef("d48_dup_spans",
      (s, dir) => Dedup.dupSpanRemoval(t(s, dir, "documents"), "doc_id",
          "text", k = 4, minCount = 2)
        .select(col("doc_id"), md5(col("text_clean")).as("clean_fp"),
          col("n_tokens"), col("n_dropped"))
        .orderBy("doc_id"),
      Some(DupSpansSql)),

    /* Exhaustive n-gram Jaccard — the exact baseline MinHash approximates
     * (shared-shingle join in Spark; small-n cross join in the oracle). */
    QueryDef("d06_jaccard_pairs",
      (s, dir) => Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          k = 4, threshold = 0.3)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH docs AS (
          SELECT doc_id AS id,
                 list_distinct(list_filter(
                   list_transform(range(1, len(toks) - 2),
                     i -> array_to_string(toks[i:i+3], ' ')),
                   x -> x <> '')) AS sh
          FROM (SELECT doc_id, $TOKS AS toks FROM documents)
          WHERE len(toks) >= 4)
        SELECT a.id AS id_a, b.id AS id_b,
               len(list_intersect(a.sh, b.sh))
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        FROM docs a JOIN docs b ON a.id < b.id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND len(list_intersect(a.sh, b.sh))
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.3
        ORDER BY id_a, id_b""")),

    /* Winnowing fingerprints (MOSS): window minima over position-ordered
     * k-gram hashes — shared passages share fingerprints at any offset. */
    QueryDef("d26_winnow_fingerprints",
      (s, dir) => Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
          k = 4, w = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "fingerprint"),
      Some {
        val hex2int = (src: String) =>
          s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
             |               list_transform(range(1, 9),
             |                 j -> CAST(strpos('0123456789abcdef',
             |                        substr(md5($src), CAST(j AS INT), 1)) - 1 AS BIGINT))),
             |               (a, x) -> a * 16 + x)""".stripMargin
        s"""WITH g AS (
          SELECT doc_id AS id,
                 list_transform(
                   list_transform(range(1, len(toks) - 2),
                     i -> array_to_string(toks[i:i+3], ' ')),
                   s -> ${hex2int("s")}) AS hs
          FROM (SELECT doc_id, $TOKS AS toks FROM documents)
          WHERE len(toks) >= 4),
        f AS (
          SELECT id, unnest(list_distinct(
                   list_transform(range(1, len(hs) - 2),
                     i -> list_min(hs[i:i+3])))) AS fingerprint
          FROM g WHERE len(hs) >= 4)
        SELECT id AS doc_id, fingerprint FROM f ORDER BY doc_id, fingerprint"""
      }),

    /* SimHash fingerprints — the oracle-portable md5-nibble variant
     * (hash-verified end-to-end); the xxhash64 fold Dedup.simhash64
     * (SQL `graft_simhash`) is the non-portable variant. */
    QueryDef("d07_simhash",
      (s, dir) => Dedup.simhashTablePortable(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some(SimhashSql)),

    // ---------------------------------------------------------------
    // Similarity search over embeddings
    // ---------------------------------------------------------------

    /* Exact cosine top-k; float folds sequential with 0.0 seed in both
     * engines -> bit-identical doubles. */
    QueryDef("d08_cosine_topk",
      (s, dir) => Similarity.bruteForceTopK(
          embT(s, dir),
          embT(s, dir).filter(col("vec_id") < 16),
          k = 5)
        .orderBy("query_id", "rank"),
      Some(s"""WITH v AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM $EMB),
        q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
          FROM $EMB WHERE vec_id < 16),
        scored AS (
          SELECT query_id, id,
            list_reduce(list_prepend(0.0, list_transform(range(1, len(vec)+1),
              i -> vec[i] * qvec[i])), (a, x) -> a + x)
            / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(vec)+1),
                 i -> vec[i] * vec[i])), (a, x) -> a + x))
               * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qvec)+1),
                   i -> qvec[i] * qvec[i])), (a, x) -> a + x))) AS cosine
          FROM v CROSS JOIN q WHERE id <> query_id)
        SELECT query_id, rank, id, cosine FROM (
          SELECT query_id, id, cosine,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, id ASC) AS INT) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    /* IVF-probed ANN (approximate; index build + probe). The stride-
     * sampled centroids are deterministic, so the WHOLE index build +
     * probe replays in SQL (hash-verified); recall-vs-brute-force pinned
     * by SimilaritySpec. */
    QueryDef("d09_ivf_topk",
      (s, dir) => {
        val (centroids, assigned) =
          Similarity.ivfIndex(embT(s, dir), nCentroids = 16)
        Similarity.ivfTopK(centroids, assigned,
            embT(s, dir).filter(col("vec_id") < 16),
            k = 5, nProbe = 4)
          .orderBy("query_id", "rank")
      },
      Some(IvfSql)),

    /* The PERSISTED-index twin of d09 — same build, same probe, but
     * through the round-14 serving layout: assigned written PARTITIONED
     * BY centroid_id, probe re-read as a partition-pruned scan (only
     * the union of the queries' nProbe buckets contributes bytes or
     * tasks). Values are identical to d09 by construction (lossless
     * double round-trip, same deterministic stride centroids), so the
     * SAME IvfSql oracle hash-gates it; the plan property (nonempty
     * PartitionFilters on the assigned scan) is spec-pinned. */
    QueryDef("d09a_ivf_topk_indexed",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-d09a").toString
        try {
          Similarity.ivfIndexWrite(embT(s, dir), tmp, nCentroids = 16)
          Similarity.ivfTopKIndexed(s, tmp,
              embT(s, dir).filter(col("vec_id") < 16), k = 5, nProbe = 4)
            .orderBy("query_id", "rank")
            .localCheckpoint(eager = true)
        } finally rmrf(s, tmp)
      },
      Some(IvfSql)),

    /* Persisted-IVF APPEND (round 15): the index is built on 80% of the
     * corpus (vec_id % 5 <> 3 — residue 3, NOT 0: the stride quantizer
     * picks ids divisible by stride, a multiple of 5 here), the
     * remaining shard is ivfIndexAppend-ed against the STORED
     * centroids, and the probe reads the merged partitioned layout.
     * The oracle replays the same-quantizer contract closed-form:
     * stride centroids from the base subset, EVERY vector (base +
     * shard) assigned to them, the d09 probe on top — append changes
     * bucket contents, never geometry. */
    QueryDef("d09b_ivf_append",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-d09b").toString
        try {
          val all = embT(s, dir)
          Similarity.ivfIndexWrite(all.filter(col("vec_id") % 5 =!= 3),
            tmp, nCentroids = 16)
          Similarity.ivfIndexAppend(s, tmp,
            all.filter(col("vec_id") % 5 === 3))
          Similarity.ivfTopKIndexed(s, tmp,
              all.filter(col("vec_id") < 16), k = 5, nProbe = 4)
            .orderBy("query_id", "rank")
            .localCheckpoint(eager = true)
        } finally rmrf(s, tmp)
      },
      Some(IvfAppendSql)),

    /* Random-hyperplane LSH near-dup pairs; the deterministic ±1 plane
     * matrix is baked into BOTH sides as literals, so the oracle replays
     * bucket assignment and cosine verify exactly (threshold calibrated
     * to the near-orthogonal synthetic embeddings). Like d10a, the
     * fixed plane count is the documented pedagogical contrast (the
     * 30x anchor measured it at 8.9x wall for 3x data), so the entry
     * opts out of the occupancy guard explicitly; production callers
     * get the default tripwire. */
    QueryDef("d10_embedding_neardups",
      (s, dir) => Dedup.embeddingNearDups(embT(s, dir),
          "vec_id", "embedding", planes = 4, threshold = 0.25,
          maxOccupancy = None)
        .orderBy("id_a", "id_b"),
      Some(EmbeddingNearDupSql)),

    /* Banded (multi-table) hyperplane LSH — the recall-holding scale
     * form (see SCALE.md): 3 tables x 4 planes, per-table literal
     * matrices seeded by planeSignsSeeded, union of bucket collisions,
     * exact-cosine verify. The whole pipeline replays in DuckDB. */
    QueryDef("d10a_embedding_neardups_banded",
      (s, dir) => Dedup.embeddingNearDupsBanded(embT(s, dir),
          "vec_id", "embedding", tables = 3, planesPerTable = 4,
          threshold = 0.25,
          // the documented pedagogical contrast entry: fixed small
          // params DELIBERATELY kept (vs d10b's derived ones) so the
          // scale study can show the quadratic blowup — the explicit
          // opt-out is exactly what the round-13 occupancy tripwire
          // requires of such a caller (default-safe for everyone else)
          maxOccupancy = None)
        .orderBy("id_a", "id_b"),
      Some(EmbeddingNearDupBandedSql)),

    /* The AUTO twin of d10a — (L, r) from bandsFor(count) instead of
     * fixed literals, i.e. the form that holds per-bucket occupancy and
     * table count bounded as n grows; d10a's fixed 3x4 at 10x the
     * vectors measured 74 s where the auto form stays single-digit at
     * the same threshold (SCALE.md). Threshold 0.4: the HIGHEST level
     * at which the near-orthogonal synthetic embeddings have pairs at
     * all (max pairwise cosine is 0.51 at sf0.01 / 0.60 at sf0.1 — the
     * 0.9 design default returns an honest empty set here), and one
     * where bandsFor stays un-clamped at the driver SFs (14 / 57
     * tables). SCALE.md records the regime boundary this skirts: at low
     * thresholds and big n the recall rule clamps loudly and semantic
     * dedup (d39a) is the right tool. ORACLE-GATED (round 11; formerly
     * rows-only on the belief that count-dependent plane matrices can't
     * be baked into replay SQL — they don't need to be: [[D10bSql]]
     * recomputes (L, r) AND the seeded ±1 planes from the data, with a
     * bit-exact splitmix64 in HUGEINT mod-2^64 arithmetic). The auto
     * rule additionally stays spec-pinned (DataxSpec: recall >= target
     * vs brute force as n grows 10x, bounded candidate load,
     * BandSignatures == the literal composition). */
    QueryDef("d10b_embedding_neardups_banded_auto",
      (s, dir) => Dedup.embeddingNearDupsBandedAuto(embT(s, dir),
          "vec_id", "embedding", threshold = 0.4)
        .orderBy("id_a", "id_b"),
      Some(D10bSql)),

    /* INCREMENTAL embedding dedup (round 14) — the batch x index shape
     * the text family has had since d49, for vectors: every 10th vec_id
     * plays the "new shard", the rest the standing index; pairs are
     * strictly cross-side (within-batch dedup is the banded form's job
     * on the batch alone). Same fixed (3, 4) seeded planes as d10a, so
     * the whole pipeline replays in DuckDB with only the pair condition
     * changed; the `indexBands` sidecar form is spec-pinned equal. Like
     * d10/d10a, the fixed plane count is the documented pedagogical
     * contrast (the 30x anchor measured it at 61x wall for 3x data), so
     * the entry opts out of the round-15 batch x index load tripwire
     * explicitly; production callers get the default
     * maxBucketLoad=Some(1<<20), and the derived-parameter form is
     * embeddingNearDupsIncrementalAuto (1.5x wall for 3x data, SCALE.md
     * "Full-batch-suite anchor at 30x (round 14)"). */
    QueryDef("d10c_embedding_neardups_incremental",
      (s, dir) => {
        val all = embT(s, dir)
        Dedup.embeddingNearDupsIncremental(
            all.filter(col("vec_id") % 10 === 0),
            all.filter(col("vec_id") % 10 =!= 0),
            "vec_id", "embedding", tables = 3, planesPerTable = 4,
            threshold = 0.25, maxBucketLoad = None)
          .orderBy("id_a", "id_b")
      },
      Some(EmbeddingNearDupIncrementalSql)),

    /* The AUTO twin of d10c (round 15) — (L, r) derived from the INDEX
     * size via bandsFor, i.e. the production parameterization measured
     * sublinear (1.57x wall for 3x data, SCALE.md "Incremental dedup at
     * 10x/30x, re-measured through the guarded APIs (round 15)") where
     * the fixed form blew up 61x; same oracle machinery as d10b (the
     * seeded planes and the recall rule recomputed bit-exactly in
     * DuckDB), with the bandsFor size source switched to the index
     * side and the pair condition to cross-side. Threshold 0.4 for the
     * same reason as d10b: the highest level where the near-orthogonal
     * synthetic embeddings pair at all, and one where bandsFor stays
     * un-clamped at the driver SFs. */
    QueryDef("d10d_embedding_neardups_incremental_auto",
      (s, dir) => {
        val all = embT(s, dir)
        Dedup.embeddingNearDupsIncrementalAuto(
            all.filter(col("vec_id") % 10 === 0),
            all.filter(col("vec_id") % 10 =!= 0),
            "vec_id", "embedding", threshold = 0.4)
          .orderBy("id_a", "id_b")
      },
      Some(D10dSql)),

    /* PRODUCT QUANTIZATION codes (round 15) — the in-bucket compression
     * half of IVF-PQ: 8 subspaces x 16 centroids over the 64-dim
     * vectors, stride-sampled codebook (the deterministic IVF rule per
     * subspace), nearest-centroid code per (vector, subspace). 8 codes
     * of 4 bits replace 256 bytes of float32 — the 100 TB ANN corpus
     * stores THIS table (partitioned by the d09a centroid layout) and
     * touches real vectors only to rerank. Exploded to (vec_id, sub,
     * code) rows for a scalar hash compare. */
    QueryDef("d09c_pq_codes",
      (s, dir) => {
        val all = embT(s, dir)
        Similarity.pqEncode(all, Similarity.pqCentroids(all))
          .select(col("id").as("vec_id"), col("sub"), col("code"))
          .orderBy("vec_id", "sub")
      },
      Some(s"""WITH $PqCtes
        SELECT id AS vec_id, sub, code FROM codes ORDER BY vec_id, sub""")),

    /* PQ asymmetric-distance top-k (round 15): each query builds one
     * 8x16 exact-distance lookup table from its own (un-quantized)
     * slices; a candidate's score is 8 table lookups summed in
     * subspace order — zero per-pair vector arithmetic, and the scan
     * reads the code table, not the vectors. The oracle recomputes the
     * same terms per (query, sub, code) and folds them in subspace
     * order (ordered list fold — bit-exact cross-engine). */
    QueryDef("d09d_pq_topk",
      (s, dir) => {
        val all = embT(s, dir)
        val cent = Similarity.pqCentroids(all)
        Similarity.pqTopK(cent, Similarity.pqEncode(all, cent),
            all.filter(col("vec_id") < 16), k = 5)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $PqCtes,
        q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
              FROM $EMB WHERE vec_id < 16),
        term AS (SELECT q.query_id, codes.id, codes.sub,
                   list_reduce(list_prepend(0.0, list_transform(range(1, 9),
                     i -> ((q.qvec[codes.sub*8+1 : codes.sub*8+8])[i] - c.cvec[i])
                        * ((q.qvec[codes.sub*8+1 : codes.sub*8+8])[i] - c.cvec[i]))),
                     (acc, x) -> acc + x) AS t
                 FROM q CROSS JOIN codes
                 JOIN cent c ON c.sub = codes.sub AND c.cid = codes.code
                 WHERE codes.id <> q.query_id),
        sc AS (SELECT query_id, id,
                 list_reduce(list_prepend(0.0, list(t ORDER BY sub)),
                   (acc, x) -> acc + x) AS adc_dist
               FROM term GROUP BY query_id, id)
        SELECT query_id, rank, id, adc_dist FROM (
          SELECT query_id, id, adc_dist,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_dist ASC, id ASC) AS INT) AS rank
          FROM sc) WHERE rank <= 5
        ORDER BY query_id, rank""")),

    /* The COMPOSED IVF-PQ probe (round 15) — the standard 100 TB ANN
     * serving shape, persisted and replayed end to end: the IVF
     * quantizer prunes which buckets a query reads (the d09a
     * partitioned layout, holding CODES instead of vectors), and
     * in-bucket scoring is d09d's asymmetric distance over the code
     * table. The oracle composes the two proven replays: IvfSql's
     * cosine bucket assignment + probe restriction, PqCtes' codes and
     * ordered ADC folds. */
    QueryDef("d09e_ivfpq_topk",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-d09e").toString
        try {
          val all = embT(s, dir)
          Similarity.pqIndexWrite(all, tmp, nCentroids = 16)
          Similarity.ivfPqTopK(s, tmp,
              all.filter(col("vec_id") < 16), k = 5, nProbe = 4)
            .orderBy("query_id", "rank")
            .localCheckpoint(eager = true)
        } finally rmrf(s, tmp)
      },
      Some(IvfPqSql())),

    /* IVF-PQ APPEND (round 16) — maintenance parity for the serving
     * index the d09e scaladoc calls the standard 100 TB shape: built on
     * 80% of the corpus (the d09b residue-3 split), the remaining shard
     * ivfIndexAppend-ed — encoded with the STORED codebook, bucketed
     * with the STORED centroids, O(shard) — and probed through the
     * merged partitioned layout. The oracle is the d09f closed form of
     * write(base) + append(shard) under frozen geometry: quantizer AND
     * codebook derived from the base subset, every vector coded and
     * assigned against them (the pqCtes baseCond parameter). */
    QueryDef("d09f_ivfpq_append",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-d09f").toString
        try {
          val all = embT(s, dir)
          Similarity.pqIndexWrite(all.filter(col("vec_id") % 5 =!= 3),
            tmp, nCentroids = 16)
          Similarity.ivfIndexAppend(s, tmp,
            all.filter(col("vec_id") % 5 === 3))
          Similarity.ivfPqTopK(s, tmp,
              all.filter(col("vec_id") < 16), k = 5, nProbe = 4)
            .orderBy("query_id", "rank")
            .localCheckpoint(eager = true)
        } finally rmrf(s, tmp)
      },
      Some(IvfPqSql(baseCond = "id % 5 <> 3"))),

    /* REPLAY-IDEMPOTENT serving append (round 17) — the batch-scoped
     * increment face the ingest loop composes with
     * (EmbedStream.servingDir): shard 1 is appended TWICE under the
     * same batchId — the at-least-once replay a crashed Structured
     * Streaming batch produces — and shard 2 once under the next; the
     * overwrite-own-batch-partition protocol makes the double append a
     * rewrite, so the probe through base ∪ increment equals the d09f
     * frozen-geometry closed form over the full union (quantizer and
     * codebook from the base subset, every vector coded against them).
     * A plain ivfIndexAppend replay would double shard 1's rows and
     * diverge — the oracle would catch it. */
    QueryDef("d09j_ivfpq_append_batch",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-d09j").toString
        try {
          val all = embT(s, dir)
          Similarity.pqIndexWrite(
            all.filter(col("vec_id") % 5 =!= 3 && col("vec_id") % 5 =!= 4),
            tmp, nCentroids = 16)
          Similarity.ivfIndexAppendBatch(s, tmp,
            all.filter(col("vec_id") % 5 === 3), 0L)
          Similarity.ivfIndexAppendBatch(s, tmp,
            all.filter(col("vec_id") % 5 === 3), 0L) // the crash replay
          Similarity.ivfIndexAppendBatch(s, tmp,
            all.filter(col("vec_id") % 5 === 4), 1L)
          Similarity.ivfPqTopK(s, tmp,
              all.filter(col("vec_id") < 16), k = 5, nProbe = 4)
            .orderBy("query_id", "rank")
            .localCheckpoint(eager = true)
        } finally rmrf(s, tmp)
      },
      Some(IvfPqSql(baseCond = "id % 5 <> 3 AND id % 5 <> 4"))),

    /* RESERVOIR-SEEDED IVF (round 17) — the deterministic uniform
     * seeding variant as a DuckDB-gated entry: the quantizer is the
     * bottom-16 ids by the md5 hash coin (the d42 rule — a pure
     * function of (seed, id), so the "random" sample replays
     * closed-form), persisted through the recorded reservoir write
     * face and probed through the pruned layout. Full-scale stance: the
     * stride pick needs ids roughly shuffled relative to the data
     * distribution; the reservoir (and its kmeans|| sibling,
     * spec-gated) does not. */
    QueryDef("d09k_ivf_reservoir",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-d09k").toString
        try {
          val all = embT(s, dir)
          // round 18: the RECORDED reservoir spec (same seeds, same
          // layout as the previous given-quantizer composition — and
          // build_meta now lets ivfIndexMaintain replay the seeding)
          Similarity.ivfIndexWrite(all, tmp, nCentroids = 16,
            spec = Similarity.IndexSpec(seeding = "reservoir"))
          Similarity.ivfTopKIndexed(s, tmp,
              all.filter(col("vec_id") < 16), k = 5, nProbe = 4)
            .orderBy("query_id", "rank")
            .localCheckpoint(eager = true)
        } finally rmrf(s, tmp)
      },
      Some(ReservoirIvfSql)),

    /* KMEANS|| SEEDING fully oracle-gated (round 18 — previously the
     * variant was spec-gated only, against an independent Scala
     * model): the cost-chasing rounds, the md5-coin picks, the
     * cosine-weighted candidate weights, AND the greedy farthest-point
     * k-center reduction all replay closed-form in DuckDB (the
     * reduction as a recursive CTE over the candidate distance
     * matrix). The query integerizes the vectors (floor(x*4) — exact
     * in both engines) so ψ's multi-operand sum is order-free; see
     * [[KmeansParSeedsSql]] for the full exactness argument. Output:
     * the chosen seed ids, sorted. */
    QueryDef("d09l_kmeanspp_seeds",
      (s, dir) => {
        val ints = embT(s, dir).select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * lit(4))).as("embedding"))
        Similarity.ivfSeedsKMeansParallel(ints, nCentroids = 8, rounds = 2)
          .select("centroid_id").orderBy("centroid_id")
      },
      Some(KmeansParSeedsSql)),

    /* The QUALITY-SEEDED SERVED LAYOUT end to end (d09m, round 19 —
     * the verdict's last spec-only face): pqIndexWrite (kmeans|| spec)
     * persists the index with the kmeans|| seeds as the coarse
     * quantizer (Lloyd iterations = 0 — the seeds themselves serve,
     * so the d09l closed form replays them; the Lloyd-refined default
     * stays spec-pinned) and the stride PQ codebook, then ivfPqTopK
     * probes the pruned layout. Integerized vectors end to end (the
     * d09l exactness argument carries through the codebook and ADC
     * folds — all integer-valued, order-free). */
    QueryDef("d09m_ivfpq_quality",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-d09m").toString
        try {
          val ints = embT(s, dir).select(col("vec_id"),
            transform(col("embedding"),
              x => floor(x.cast("double") * lit(4))).as("embedding"))
            .localCheckpoint(eager = true)
          Similarity.pqIndexWrite(ints, tmp, nCentroids = 8,
            spec = Similarity.IndexSpec(seeding = "kmeans_parallel",
              rounds = 2, kmeansIterations = 0))
          Similarity.ivfPqTopK(s, tmp,
              ints.filter(col("vec_id") < 16), k = 5, nProbe = 4)
            .orderBy("query_id", "rank")
            .localCheckpoint(eager = true)
        } finally rmrf(s, tmp)
      },
      Some(QualityIvfPqSql)),

    /* The RESERVOIR-SEEDED SERVED LAYOUT end to end (d09n, round 19 —
     * d09m's twin): pqIndexWrite (reservoir spec) persists the index with the
     * hash-coin reservoir as the coarse quantizer (Lloyd iterations =
     * 0, the d09k closed form) and the stride PQ codebook; ivfPqTopK
     * probes the pruned layout. Raw doubles — the reservoir pick adds
     * no float accumulation, so the d09e exactness argument carries
     * unchanged. With d09m this makes every recorded quality seeding
     * oracle-gated on the layout it serves. */
    QueryDef("d09n_ivfpq_reservoir",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-d09n").toString
        try {
          val all = embT(s, dir)
          Similarity.pqIndexWrite(all, tmp, nCentroids = 16,
            spec = Similarity.IndexSpec(seeding = "reservoir"))
          Similarity.ivfPqTopK(s, tmp,
              all.filter(col("vec_id") < 16), k = 5, nProbe = 4)
            .orderBy("query_id", "rank")
            .localCheckpoint(eager = true)
        } finally rmrf(s, tmp)
      },
      Some(ReservoirIvfPqSql)),

    /* EXACT-RERANK over the IVF-PQ candidates (round 16) — the
     * documented answer to ADC's noise-regime recall, as an oracle
     * entry: the persisted index retrieves top-20 by asymmetric
     * distance (codes only), the 20 candidates' full-precision vectors
     * are fetched candidate-order, and the final top-5 is exact cosine.
     * The oracle composes the d09e replay (ADC top-R) with the d08
     * exact-cosine rank over exactly that candidate set. */
    QueryDef("d09g_ivfpq_reranked",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-d09g").toString
        try {
          val all = embT(s, dir)
          Similarity.pqIndexWrite(all, tmp, nCentroids = 16)
          Similarity.ivfPqTopKReranked(s, tmp,
              all.filter(col("vec_id") < 16), all,
              k = 5, rerank = 20, nProbe = 4)
            .orderBy("query_id", "rank")
            .localCheckpoint(eager = true)
        } finally rmrf(s, tmp)
      },
      Some(s"""WITH $PqCtes,
        ${IvfPqCoreCtes(nProbe = 4)},
        cand AS (SELECT query_id, id FROM (
          SELECT query_id, id, adc_dist,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_dist ASC, id ASC) AS rank
          FROM sc) WHERE rank <= 20),
        ex AS (SELECT c.query_id, c.id,
                 ${dotSql("v.vec", "q.qvec")}
                   / (sqrt(${dotSql("v.vec", "v.vec")})
                      * sqrt(${dotSql("q.qvec", "q.qvec")})) AS cosine
               FROM cand c JOIN v ON v.id = c.id
               JOIN q ON q.query_id = c.query_id)
        SELECT query_id, rank, id, cosine FROM (
          SELECT query_id, id, cosine,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, id ASC) AS INT) AS rank
          FROM ex) WHERE rank <= 5
        ORDER BY query_id, rank""")),

    /* The EMBEDDING continuous-ingest loop (round 16) — the vector twin
     * of d52: vectors stream through EmbedStream in two micro-batches
     * (splits=4, two files per trigger), each batch dedups within
     * itself (pair domination — larger id of each verified pair drops)
     * and against the standing index through the STORED band sidecar,
     * survivors append as batch partitions under the DedupStream
     * exactly-once protocol. Fixed (3, 4) seeded planes so the whole
     * two-batch fold replays closed-form in DuckDB. */
    QueryDef("d55_embed_ingest",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-d55").toString
        try {
          BatchFiles.write(embT(s, dir).select("vec_id", "embedding", "label"),
            s"$tmp/src", "vec_id", splits = 4)
          EmbedStream.ingestAvailableNow(s, s"$tmp/src", s"$tmp/index",
              s"$tmp/ckpt", "vec_id", "embedding",
              tables = 3, planesPerTable = 4, threshold = 0.25,
              maxFilesPerTrigger = 2)
            .select("vec_id", "label")
            .orderBy("vec_id")
        } finally rmrf(s, tmp)
      },
      Some(D55Sql)),

    /* RESIDUAL IVF-PQ (round 16) — textbook IVFADC: the codebook trains
     * on, and the codes quantize, each vector's residual against its
     * assigned centroid (exact double subtraction, so the whole
     * pipeline replays), and each query's LUT subtracts the PROBED
     * centroid (per-(query, centroid) asymmetric side). The index is
     * self-describing (build_meta residual=true) — the SAME ivfPqTopK
     * call serves raw and residual layouts. */
    QueryDef("d09i_ivfpq_residual",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-d09i").toString
        try {
          val all = embT(s, dir)
          Similarity.pqIndexWrite(all, tmp, nCentroids = 16,
            spec = Similarity.IndexSpec(encoding = "residual"))
          Similarity.ivfPqTopK(s, tmp,
              all.filter(col("vec_id") < 16), k = 5, nProbe = 4)
            .orderBy("query_id", "rank")
            .localCheckpoint(eager = true)
        } finally rmrf(s, tmp)
      },
      Some(ResidualIvfPqSql)),

    /* LLOYD-REFINED PQ CODEBOOK (round 16) — the d29 treatment applied
     * to the subspace codebook: two Lloyd rounds over the stride seed,
     * per (sub, cid, dim) means as the sequential id-ordered double
     * fold / count (bit-exact cross-engine), assignment = the pqEncode
     * rule (ordered squared-L2 fold, ties to the LOWEST cid), empty
     * cells keep their previous centroid. Flattened to (sub, cid, dim,
     * value) rows for the scalar hash compare. */
    QueryDef("d09h_pq_codebook_kmeans",
      (s, dir) => Similarity.pqCentroidsKMeans(embT(s, dir),
          m = 8, ksub = 16, iterations = 2)
        .select(col("sub"), col("cid"),
          posexplode(col("cvec")).as(Seq("dim", "value")))
        .orderBy("sub", "cid", "dim"),
      Some(PqKmeansSql)),

    /* Lloyd-refined IVF centroids, oracle-stable: ordered-fold means
     * (avg() is summation-order-dependent; the id-ordered sequential
     * fold is not) — promotes k-means from spec-only to a full hash
     * compare. Two rounds over the stride seed, 16 centroids. */
    QueryDef("d29_kmeans_centroids",
      (s, dir) => Similarity.kmeansCentroidsOrdered(embT(s, dir),
          nCentroids = 16, iterations = 2)
        .orderBy("centroid_id", "dim"),
      Some(KmeansSql)),

    /* Per-class embedding centroids (sequential id-ordered double fold
     * -> deterministic at any parallelism, bit-identical across engines). */
    QueryDef("d25_label_centroids",
      (s, dir) => Similarity.labelCentroids(embT(s, dir))
        .orderBy("label", "dim"),
      Some(s"""WITH e AS (
          SELECT label, vec_id AS id, d - 1 AS dim, vec[d] AS x
          FROM (SELECT label, vec_id, embedding::DOUBLE[] AS vec FROM $EMB),
               unnest(range(1, 65)) AS t(d))
        SELECT label, CAST(dim AS INT) AS dim,
               list_reduce(list_prepend(0.0, list(x ORDER BY id)),
                 (a, b) -> a + b) / count(*) AS centroid,
               CAST(count(*) AS BIGINT) AS n_vectors
        FROM e GROUP BY label, dim ORDER BY label, dim""")),

    // ---------------------------------------------------------------
    // Multimodal columns (binary payload + typed metadata; stub decode)
    // ---------------------------------------------------------------

    /* Asset metadata + stub header-decode, all scan-side expressions. */
    QueryDef("d11_multimodal_meta",
      (s, dir) => {
        val a = Multimodal.assets(t(s, dir, "documents"))
        a.select(
            col("asset_id"), col("media_type"),
            col("meta.origin").as("origin"),
            octet_length(col("payload")).as("n_bytes"),
            md5(col("payload")).as("digest"),
            Multimodal.decodeMeta(col("payload")).as("_d"))
          .select(col("asset_id"), col("media_type"), col("origin"),
            col("n_bytes"), col("digest"),
            col("_d.width").as("width"), col("_d.height").as("height"),
            col("_d.n_frames").as("n_frames"))
          .orderBy("asset_id")
      },
      Some("""SELECT doc_id AS asset_id,
          CASE WHEN doc_id % 3 = 0 THEN 'image'
               WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
          source AS origin,
          CAST(octet_length(text::BLOB) AS INT) AS n_bytes,
          md5(text) AS digest,
          CAST(64 + (ascii(substr(md5(text), 1, 1)) * 256
                     + ascii(substr(md5(text), 2, 1))) % 1856 AS INT) AS width,
          CAST(64 + (ascii(substr(md5(text), 3, 1)) * 256
                     + ascii(substr(md5(text), 4, 1))) % 1016 AS INT) AS height,
          CAST(octet_length(text::BLOB) % 240 + 1 AS INT) AS n_frames
        FROM documents ORDER BY asset_id""")),

    /* Frame sampling: every 30th frame of each video asset, one row per
     * sampled frame with a per-frame decode digest. */
    QueryDef("d12_frame_sample",
      (s, dir) => Multimodal.sampleFrames(
          Multimodal.assets(t(s, dir, "documents")), step = 30)
        .orderBy("asset_id", "frame_no"),
      Some("""WITH a AS (
          SELECT doc_id AS asset_id, md5(text) AS digest,
                 octet_length(text::BLOB) % 240 + 1 AS nf
          FROM documents WHERE doc_id % 3 = 2),
        f AS (
          SELECT asset_id, digest,
                 unnest(list_filter(range(0, nf), i -> i % 30 = 0)) AS fr
          FROM a)
        SELECT asset_id, CAST(fr AS INT) AS frame_no,
               md5(digest || ':' || fr::VARCHAR) AS frame_digest
        FROM f ORDER BY asset_id, frame_no""")),

    /* Batched mapPartitions feature extraction (typed Dataset path). The
     * verification surface posexplodes the feature vector to scalar rows:
     * array cells don't survive the driver's pandas sort/hash, and the
     * md5-derived stub features replay exactly in DuckDB. */
    QueryDef("d13_asset_features",
      (s, dir) => Multimodal.extractFeatures(
          Multimodal.assets(t(s, dir, "documents")))
        .select(col("asset_id"), col("media_type"), col("n_bytes"),
          posexplode(col("features")).as(Seq("dim", "feature")))
        .orderBy("asset_id", "dim"),
      Some("""WITH a AS (
          -- a NULL payload decodes to NULL features; the inner
          -- posexplode on the engine side then emits no rows for it,
          -- so the replay skips null-text assets entirely
          SELECT doc_id AS asset_id,
                 CASE WHEN doc_id % 3 = 0 THEN 'image'
                      WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
                 CAST(octet_length(text::BLOB) AS INT) AS n_bytes,
                 md5(text) AS h
          FROM documents WHERE text IS NOT NULL)
        SELECT asset_id, media_type, n_bytes, CAST(d AS INT) AS dim,
               CAST(ascii(substr(h, CAST(d AS INT) + 1, 1)) AS FLOAT) AS feature
        FROM a, unnest(range(0, 8)) AS t(d)
        ORDER BY asset_id, dim""")),

    // ---------------------------------------------------------------
    // Corpus curation: deterministic split, contamination, PII
    // ---------------------------------------------------------------

    /* Hash-based train/valid/test assignment — stable across runs and
     * cluster sizes (never rand()), scan-side only. */
    QueryDef("d22_train_split",
      (s, dir) => t(s, dir, "documents").select(
          col("doc_id"),
          TextStats.splitBucket(col("doc_id")).as("bucket"),
          TextStats.splitName(col("doc_id")).as("split"))
        .orderBy("doc_id"),
      Some("""WITH n AS (
          SELECT doc_id,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, 5),
                     i -> CAST(strpos('0123456789abcdef',
                            substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT))),
                   (acc, x) -> acc * 16 + x) AS v
          FROM documents),
        b AS (SELECT doc_id, CAST(v % 100 AS INT) AS bucket FROM n)
        SELECT doc_id, bucket,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split
        FROM b ORDER BY doc_id""")),

    /* Leakage-safe split: the d22 hash split keyed by duplicate-group
     * representative (near-dup pairs UNION exact-fingerprint stars,
     * closed transitively), so no (near-)duplicate pair straddles
     * train/valid/test. Same LSH parameters as d05/d21 so the oracle
     * reuses the shared MinHash CTE chain; the closure runs over BOTH
     * edge kinds; singletons reduce to the naive d22 assignment. */
    QueryDef("d54_leakage_safe_split",
      (s, dir) => Dedup.leakageSafeSplit(t(s, dir, "documents"), "doc_id",
          "text", k = 4, numHashes = 16, bands = 8, threshold = 0.3)
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE p AS ($MinhashPairsSql),
        fpd AS (SELECT doc_id AS id,
                  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
                FROM documents),
        fe AS (SELECT rep AS id_a, id AS id_b FROM (
                 SELECT id, min(id) OVER (PARTITION BY fp) AS rep FROM fpd)
               WHERE id <> rep),
        allp AS (SELECT id_a, id_b FROM p UNION SELECT id_a, id_b FROM fe),
        e AS (SELECT id_a AS u, id_b AS v FROM allp
              UNION SELECT id_b, id_a FROM allp),
        r(u, v) AS (SELECT u, v FROM e
                    UNION SELECT r.u, e.v FROM r JOIN e ON r.v = e.u),
        cl AS (SELECT u AS id, least(u, min(v)) AS cluster FROM r GROUP BY u),
        a AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS rep
              FROM documents d LEFT JOIN cl ON d.doc_id = cl.id),
        b AS (SELECT doc_id, rep,
                CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, 5),
                    i -> CAST(strpos('0123456789abcdef',
                           substr(md5(CAST(rep AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT))),
                  (acc, x) -> acc * 16 + x) % 100 AS INT) AS bucket
              FROM a)
        SELECT doc_id, rep, bucket,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split
        FROM b ORDER BY doc_id""")),

    /* Benchmark-contamination scan: corpus docs containing >= 50% of a
     * benchmark doc's 4-shingles (asymmetric containment, the measure
     * that catches a corpus doc which swallowed a benchmark item). */
    QueryDef("d23_contamination",
      (s, dir) => Dedup.contaminationWithin(t(s, dir, "documents"),
          "doc_id", "text", isBench = _ % 29 === 0, k = 4, threshold = 0.5)
        .orderBy("bench_id", "corpus_id"),
      Some(ContaminationSql)),

    /* The bloom-prefiltered twin: benchmark shingles -> one sketch
     * aggregate -> scan-side might_contain on the corpus shingles ->
     * the SAME exact containment join. Lossless by construction (bloom
     * has no false negatives; false positives die in the exact join),
     * so unlike the d19a/d28a sketch twins it shares d23's full oracle. */
    QueryDef("d23a_contamination_bloom",
      (s, dir) => Dedup.contaminationBloomWithin(t(s, dir, "documents"),
          "doc_id", "text", isBench = _ % 29 === 0, k = 4, threshold = 0.5)
        .orderBy("bench_id", "corpus_id"),
      Some(ContaminationSql)),

    /* End-to-end decontamination — d23's drop step: corpus docs whose
     * containment of any benchmark doc reaches 50% are removed;
     * benchmark rows are excluded from the output (held-out data, not
     * training corpus). Sub-k docs have no shingles, can't be
     * contaminated, and pass through. */
    QueryDef("d38_decontaminate",
      (s, dir) => Dedup.decontaminate(t(s, dir, "documents"),
          "doc_id", "text", isBench = _ % 29 === 0, k = 4, threshold = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some(s"""WITH sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_filter(
                   list_transform(range(1, len(toks) - 2),
                     i -> array_to_string(toks[i:i+3], ' ')),
                   x -> x <> '')) AS sh
          FROM (SELECT doc_id, $TOKS AS toks FROM documents)
          WHERE len(toks) >= 4),
        bench AS (SELECT * FROM sh WHERE id % 29 = 0 AND len(sh) > 0),
        corpus AS (SELECT * FROM sh WHERE id % 29 <> 0 AND len(sh) > 0),
        bad AS (
          SELECT DISTINCT c.id
          FROM bench b JOIN corpus c ON len(list_intersect(b.sh, c.sh)) > 0
          WHERE len(list_intersect(b.sh, c.sh)) / len(b.sh) >= 0.5)
        SELECT doc_id, lang FROM documents
        WHERE doc_id % 29 <> 0 AND doc_id NOT IN (SELECT id FROM bad)
        ORDER BY doc_id""")),

    /* PII pattern scan + deterministic redaction (fingerprint of the
     * redacted text keeps the compare exact without shipping full text). */
    QueryDef("d24_pii_scan",
      (s, dir) => t(s, dir, "documents").select(
          col("doc_id"),
          TextStats.piiCounts(col("text")).as("_p"),
          md5(TextStats.redactPii(col("text"))).as("redacted_fp"))
        .select(col("doc_id"), col("_p.n_emails").as("n_emails"),
          col("_p.n_urls").as("n_urls"), col("_p.n_phones").as("n_phones"),
          col("redacted_fp"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
          CAST(len(regexp_extract_all(text, '${TextStats.EmailRe}')) AS INT) AS n_emails,
          CAST(len(regexp_extract_all(text, '${TextStats.UrlRe}')) AS INT) AS n_urls,
          CAST(len(regexp_extract_all(text, '${TextStats.PhoneRe}')) AS INT) AS n_phones,
          md5(regexp_replace(regexp_replace(regexp_replace(text,
            '${TextStats.EmailRe}', '[EMAIL]', 'g'),
            '${TextStats.UrlRe}', '[URL]', 'g'),
            '${TextStats.PhoneRe}', '[PHONE]', 'g')) AS redacted_fp
        FROM documents ORDER BY doc_id""")),

    // ---------------------------------------------------------------
    // Event-time windows over `events` (Structured-Streaming-shaped)
    // ---------------------------------------------------------------

    QueryDef("d14_tumbling_window",
      (s, dir) => StreamOps.tumblingStats(t(s, dir, "events"))
        .drop("approx_users") // HLL sketch differs across engines
        .orderBy("window_start", "event_type"),
      Some("""SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, CAST(count(*) AS BIGINT) AS n_events,
               min(value) AS min_value, max(value) AS max_value
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 2 ORDER BY window_start, event_type""")),

    QueryDef("d15_sliding_window",
      (s, dir) => StreamOps.slidingCounts(t(s, dir, "events"))
        .orderBy("window_start", "event_type"),
      Some("""WITH e AS (
          SELECT event_type,
                 unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                         time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws
          FROM events WHERE ts IS NOT NULL)
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
               CAST(count(*) AS BIGINT) AS n_events
        FROM e GROUP BY 1, 2 ORDER BY window_start, event_type""")),

    /* Vocabulary frequency top-k (the word-count shape): explode tokens,
     * partial-agg count per token map-side, global top-k via
     * TakeOrderedAndProject — no full sort of the vocabulary. */
    QueryDef("d20_vocab_topk",
      (s, dir) => t(s, dir, "documents")
        .select(explode(TextStats.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20),
      Some("""SELECT token, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(trim(lower(text)), ' ')) AS token
              FROM documents)
        WHERE token <> ''
        GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""")),

    /* One-scan dataset profile: per-column row/non-null/distinct counts
     * (exact distinct for the oracle; HLL at 100 TB via exact=false). */
    QueryDef("d19_profile",
      (s, dir) => Profile.profile(t(s, dir, "orders"),
          Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("col_name"),
      Some("""SELECT 'o_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(o_custkey) AS BIGINT) AS n_nonnull,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct FROM orders
        UNION ALL
        SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
               CAST(count(o_orderstatus) AS BIGINT),
               CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders
        UNION ALL
        SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
               CAST(count(o_orderpriority) AS BIGINT),
               CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders
        ORDER BY col_name""")),

    /* Intra-document repetition: duplicate 3-gram fraction per doc —
     * the boilerplate/keyword-stuffing signal of the Gopher-style
     * filter family. One shuffle on doc id. */
    QueryDef("d31_repetition",
      (s, dir) => TextStats.repetition(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (
          SELECT doc_id, $TOKS AS toks FROM documents),
        g AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(toks) - 1),
                   i -> array_to_string(toks[i:i+2], ' '))) AS g
          FROM tk),
        a AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
                 CAST(count(DISTINCT g) AS BIGINT) AS n_distinct
          FROM g GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(coalesce(a.n_ngrams, 0) AS BIGINT) AS n_ngrams,
               CAST(coalesce(a.n_distinct, 0) AS BIGINT) AS n_distinct,
               CASE WHEN coalesce(a.n_ngrams, 0) = 0 THEN 0.0
                    ELSE (a.n_ngrams - a.n_distinct) / a.n_ngrams END AS dup_fraction
        FROM documents d LEFT JOIN a USING (doc_id)
        ORDER BY doc_id""")),

    /* Composed keep/drop corpus filter with per-doc REASONS (fixed rule
     * order, '' = keep) — the auditable production form of d04/d18's
     * score. The repetition rule joins the d31 aggregate; everything
     * else stays scan-side. */
    QueryDef("d32_quality_filter",
      (s, dir) => TextStats.qualityFilter(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (
          SELECT doc_id, $TOKS AS toks FROM documents),
        g AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(toks) - 1),
                   i -> array_to_string(toks[i:i+2], ' '))) AS g
          FROM tk),
        a AS (
          SELECT doc_id, count(*) AS n_ngrams, count(DISTINCT g) AS n_distinct
          FROM g GROUP BY doc_id),
        f AS (
          SELECT d.doc_id,
                 len(regexp_extract_all(d.text, '\\S+')) AS ws,
                 CASE WHEN length(d.text) = 0 THEN 0.0
                      ELSE length(regexp_replace(lower(d.text), '[^a-z]', '', 'g'))::DOUBLE
                           / length(d.text)::DOUBLE END AS alpha,
                 len(regexp_extract_all(d.text, '${TextStats.EmailRe}')) AS n_emails,
                 len(regexp_extract_all(d.text, '${TextStats.PhoneRe}')) AS n_phones,
                 CASE WHEN coalesce(a.n_ngrams, 0) = 0 THEN 0.0
                      ELSE (a.n_ngrams - a.n_distinct) / a.n_ngrams END AS dup_fraction
          FROM documents d LEFT JOIN a USING (doc_id)),
        r AS (
          SELECT doc_id, concat_ws(',',
                   CASE WHEN ws < 5 THEN 'too_short' END,
                   CASE WHEN ws > 5000 THEN 'too_long' END,
                   CASE WHEN alpha < 0.5 THEN 'low_alpha' END,
                   CASE WHEN dup_fraction > 0.3 THEN 'high_repetition' END,
                   CASE WHEN n_emails + n_phones > 5 THEN 'pii_heavy' END) AS reasons
          FROM f),
        -- NULL text fails the filter EXPLICITLY (the operator contract:
        -- every input doc gets an audited keep/reasons row; a null doc
        -- must never pass as vacuously clean)
        rr AS (
          SELECT r.doc_id,
                 CASE WHEN d.text IS NULL THEN 'null_text'
                      ELSE coalesce(r.reasons, '') END AS reasons
          FROM r JOIN documents d USING (doc_id))
        SELECT doc_id, (reasons = '') AS keep, reasons
        FROM rr ORDER BY doc_id""")),

    /* Quality-score distribution as an EXACT fixed-width histogram
     * (floor-bucketing is engine-portable; percentile sketches are not
     * — use approx_percentile at scale where exactness isn't gated). */
    QueryDef("d18_quality_histogram",
      (s, dir) => t(s, dir, "documents")
        .select((floor(TextStats.qualityScore(col("text")) * 10) / 10).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("bucket"),
      Some(s"""WITH q AS (
          SELECT CASE WHEN length(text) = 0 THEN 0.0 ELSE
            (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
               / length(text)::DOUBLE) * 0.5
            + least(($en::DOUBLE / len($TOKS)::DOUBLE) * 5.0, 1.0) * 0.2
            + (CASE WHEN (length(text)::DOUBLE - (len($TOKS)::DOUBLE - 1.0))
                           / len($TOKS)::DOUBLE BETWEEN 3.0 AND 10.0
                    THEN 1.0 ELSE 0.5 END) * 0.3
          END AS quality FROM documents)
        SELECT floor(quality * 10) / 10 AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM q GROUP BY 1 ORDER BY bucket""")),

    /* JSON property extraction over the events stream (training
     * pipelines carry semi-structured payloads; extraction must be
     * scan-side, codegen'd, and null-safe on malformed docs).
     * `from_json` with a minimal one-field schema parses each document
     * once into a typed struct; `get_json_object` re-tokenizes the raw
     * string per path evaluation — measurably slower, and linearly worse
     * the more paths you pull. The field is extracted as STRING and cast
     * (not parsed as INT directly): a string-encoded `{"k": "12"}` must
     * coerce exactly like the old get_json_object + cast path and the
     * oracle's json_extract_string + CAST, where a typed INT parse would
     * null it. Malformed docs yield a null struct → null field. */
    QueryDef("d17_json_props",
      (s, dir) => t(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"), "k STRING", Map.empty[String, String])
            .getField("k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("k")).as("n_with_k"),
          min("k").as("min_k"), max("k").as("max_k"),
          sum("k").as("sum_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS n_with_k,
               min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
               max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
        FROM events GROUP BY event_type ORDER BY event_type""")),

    /* The 100 TB variants of d19/d28: sketch aggregates (HyperLogLog /
     * Greenwald-Khanna quantile summary) whose ESTIMATES are
     * engine-specific by construction — no exact replay exists. Yet
     * both are FULLY oracle-gated (round 12; formerly the registry's
     * only two unchecked entries) by the tolerance-claim shape: emit
     * only deterministic values — the grouping keys, the exact counts
     * the sketch pass computes anyway, and a boolean CLAIM that the
     * estimate landed inside its published guarantee, checked against
     * a Spark-side exact quantity the oracle independently verifies in
     * the same row. A green hash then transitively certifies the
     * estimate: claim=true was computed against a value DuckDB agrees
     * with. The claims hold for ANY correct merge order (they encode
     * the algorithms' guarantees with slack), so the gate is
     * deterministic where the raw estimates are not — and a real
     * estimator bug fails the hash loudly instead of shipping
     * unchecked. */
    QueryDef("d19a_profile_hll",
      (s, dir) => Profile.profileWithHllGate(t(s, dir, "orders"),
          Seq("o_custkey", "o_orderstatus", "o_orderpriority"), tol = 0.1)
        .orderBy("col_name"),
      Some("""SELECT col_name, n_rows, n_nonnull, n_distinct,
               true AS hll_within_tol
        FROM (
          SELECT 'o_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(count(o_custkey) AS BIGINT) AS n_nonnull,
                 CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
          FROM orders
          UNION ALL
          SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
                 CAST(count(o_orderstatus) AS BIGINT),
                 CAST(count(DISTINCT o_orderstatus) AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
                 CAST(count(o_orderpriority) AS BIGINT),
                 CAST(count(DISTINCT o_orderpriority) AS BIGINT)
          FROM orders)
        ORDER BY col_name""")),

    /* approx_percentile gate: the GK summary guarantees the returned
     * value is an ACTUAL element whose rank is within N/accuracy of
     * p·N (default accuracy 10000 → ε = 1e-4). The claim re-derives
     * each estimate's rank band from the data — #{v ≤ est} ≥ (p−ε′)·N
     * and #{v < est} ≤ (p+ε′)·N over the group's non-null values, with
     * ε′ = 1e-3 (10× slack over the guarantee, so partition-merge
     * nondeterminism can never flip it) — and emits only the booleans
     * plus exact counts. Two passes over events (agg, then a broadcast
     * join back for the rank counts) — the price of gating a sketch,
     * paid at verify scale; the sketch itself stays one-pass for
     * production use. */
    QueryDef("d28a_percentiles_approx",
      (s, dir) => {
        val e = t(s, dir, "events")
        val eps = 0.001
        val approx = e.groupBy("event_type")
          .agg(
            expr("approx_percentile(value, 0.5)").as("p50"),
            expr("approx_percentile(value, 0.9)").as("p90"),
            expr("approx_percentile(value, 0.99)").as("p99"),
            count(lit(1)).as("n"))
        def le(est: String) = sum(when(col("value") <= col(est), 1L).otherwise(0L))
        def lt(est: String) = sum(when(col("value") < col(est), 1L).otherwise(0L))
        def band(p: Double, leC: String, ltC: String) =
          col(leC) >= (lit(p) - eps) * col("nv") &&
            col(ltC) <= (lit(p) + eps) * col("nv")
        // NULL-SAFE join key (review finding): a plain equi-join would
        // drop a NULL event_type group that both Spark's groupBy and
        // the oracle's GROUP BY keep — the same latent-oracle class as
        // the r11 d53 `<=` boundary
        e.join(broadcast(approx.withColumnRenamed("event_type", "_et")),
            col("event_type") <=> col("_et"))
          .groupBy("event_type")
          .agg(first("n").as("n"), count(col("value")).as("nv"),
            le("p50").as("le50"), lt("p50").as("lt50"),
            le("p90").as("le90"), lt("p90").as("lt90"),
            le("p99").as("le99"), lt("p99").as("lt99"))
          .select(col("event_type"), col("n"), col("nv"),
            band(0.5, "le50", "lt50").as("p50_in_band"),
            band(0.9, "le90", "lt90").as("p90_in_band"),
            band(0.99, "le99", "lt99").as("p99_in_band"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(value) AS BIGINT) AS nv,
               true AS p50_in_band, true AS p90_in_band, true AS p99_in_band
        FROM events GROUP BY event_type ORDER BY event_type""")),

    /* Exact interpolated percentiles per group (Spark `percentile` and
     * DuckDB `quantile_cont` share the (1-g)*lo + g*hi definition; at
     * 100 TB switch to approx_percentile where a sketch suffices). */
    QueryDef("d28_value_percentiles",
      (s, dir) => t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"),
          expr("percentile(value, 0.99)").as("p99"),
          count(lit(1)).as("n"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.9) AS p90,
               quantile_cont(value, 0.99) AS p99,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type ORDER BY event_type""")),

    /* Event-time interval join (view -> click attribution within 30
     * minutes, same user) — the batch face of the stream-stream join. */
    QueryDef("d27_interval_join",
      (s, dir) => {
        val e = t(s, dir, "events")
        StreamOps.intervalJoin(
            e.filter(col("event_type") === "view"),
            e.filter(col("event_type") === "click"),
            withinMinutes = 30)
          .select(col("user_id"), col("view_id"), col("click_id"))
          .orderBy("user_id", "view_id", "click_id")
      },
      Some("""SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
        FROM events v JOIN events c
          ON v.user_id = c.user_id
         AND v.event_type = 'view' AND c.event_type = 'click'
         AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTE
        ORDER BY v.user_id, view_id, click_id""")),

    /* Event-time RANGE frame: per-event trailing 30-minute stats for the
     * same user. Microsecond frame arithmetic on both sides (the
     * timestamps carry micros; a seconds cast would shift boundaries). */
    QueryDef("d44_trailing_window",
      (s, dir) => StreamOps.trailingStats(t(s, dir, "events"), minutes = 30)
        .orderBy("user_id", "event_id"),
      Some("""SELECT user_id, event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               CAST(count(*) OVER w AS BIGINT) AS n_trailing,
               max(value) OVER w AS max_value_trailing
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, event_id""")),

    /* Gaps-and-islands sessionization (batch analogue of
     * session_window): one shuffle on user_id. */
    QueryDef("d16_sessionize",
      (s, dir) => StreamOps.sessionize(t(s, dir, "events"), gapMinutes = 60)
        .orderBy("user_id", "session_id"),
      Some("""WITH flagged AS (
          -- sessions need a non-null (user, ts) — the engine's
          -- event-time contract
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL THEN 1
                      WHEN date_diff('second', lag(ts) OVER w, ts) > 3600 THEN 1
                      ELSE 0 END AS _new
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sess AS (
          SELECT user_id, ts,
                 CAST(sum(_new) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_id
          FROM flagged)
        SELECT user_id, session_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sess GROUP BY user_id, session_id
        ORDER BY user_id, session_id""")),

    /* C4-style boilerplate removal at chunk grain: a 3-token chunk
     * appearing in >= 2 distinct docs is boilerplate; docs are
     * reassembled from their surviving chunks in original order. */
    QueryDef("d33_boilerplate",
      (s, dir) => Curation.boilerplateChunks(t(s, dir, "documents"),
          "doc_id", "text", chunkTokens = 3, minDocs = 2)
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (
          SELECT doc_id, $TOKS AS toks FROM documents),
        ix AS (
          SELECT doc_id, toks,
                 unnest(range(0, (len(toks) + 2) // 3)) AS i
          FROM tk),
        ch AS (
          SELECT doc_id, CAST(i AS INT) AS pos,
                 array_to_string(toks[(i*3+1):(i*3+3)], ' ') AS chunk
          FROM ix),
        bp AS (
          SELECT chunk FROM ch GROUP BY chunk
          HAVING count(DISTINCT doc_id) >= 2),
        kept AS (
          SELECT * FROM ch WHERE chunk NOT IN (SELECT chunk FROM bp)),
        re AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                 string_agg(chunk, ' ' ORDER BY pos) AS cleaned
          FROM kept GROUP BY doc_id),
        tot AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
          FROM ch GROUP BY doc_id)
        SELECT tot.doc_id, tot.n_chunks,
               CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept,
               coalesce(re.cleaned, '') AS cleaned
        FROM tot LEFT JOIN re USING (doc_id)
        ORDER BY doc_id""")),

    /* Unigram-LM quality scoring: mean token probability + OOV rate
     * against the top-20 corpus vocabulary (the cheap stand-in for
     * perplexity filtering). Per-doc prob sums fold a SORTED list from
     * 0.0 in both engines -> bit-identical doubles. */
    QueryDef("d34_unigram_lm",
      (s, dir) => Curation.unigramLm(t(s, dir, "documents"),
          "doc_id", "text", vocabSize = 20)
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (
          SELECT doc_id, unnest($TOKS) AS t FROM documents),
        c AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
        tt AS (SELECT sum(cnt) AS total FROM c),
        v AS (SELECT t, cnt FROM c ORDER BY cnt DESC, t ASC LIMIT 20),
        pr AS (SELECT t, CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS p
               FROM v, tt),
        a AS (
          SELECT doc_id,
                 CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(count(p) AS BIGINT) AS n_invocab,
                 list_reduce(list_prepend(0.0,
                     list_sort(list(p) FILTER (WHERE p IS NOT NULL))),
                   (acc, x) -> acc + x) AS sum_p
          FROM tok LEFT JOIN pr USING (t) GROUP BY doc_id)
        -- every input doc gets a row: null-text docs carry zero counts
        -- and NULL (undefined) rates
        SELECT d.doc_id,
               coalesce(a.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
               coalesce(a.n_invocab, CAST(0 AS BIGINT)) AS n_invocab,
               (a.n_tokens - a.n_invocab) / a.n_tokens AS oov_rate,
               coalesce(a.sum_p, 0.0) / a.n_tokens AS avg_p
        FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""")),

    /* Stratified balancing sample: every language deterministically
     * downsampled to ~the smallest language's count via md5 buckets —
     * integer threshold arithmetic end-to-end. */
    QueryDef("d35_stratified_sample",
      (s, dir) => Curation.stratifiedSample(t(s, dir, "documents"),
          "doc_id", "lang")
        .orderBy("doc_id"),
      Some("""WITH b AS (
          SELECT doc_id, lang,
                 CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, 9),
                       i -> CAST(strpos('0123456789abcdef',
                              substr(md5(CAST(doc_id AS VARCHAR)),
                                     CAST(i AS INT), 1)) - 1 AS BIGINT))),
                   (acc, x) -> acc * 16 + x) % 10000 AS INT) AS bucket
          FROM documents),
        c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        m AS (SELECT min(n) AS cap FROM c),
        t AS (SELECT lang, CAST((10000 * cap) // n AS INT) AS threshold
              FROM c, m)
        SELECT b.doc_id, b.lang, b.bucket, t.threshold,
               b.bucket < t.threshold AS keep
        FROM b JOIN t USING (lang) ORDER BY doc_id""")),

    /* Greedy next-fit sequence packing into 128-token bins, parallel
     * across 32 shards; the oracle replays the sequential fold with a
     * recursive CTE (packing state can't be a window function). */
    QueryDef("d36_pack_sequences",
      (s, dir) => Curation.packSequences(t(s, dir, "documents"),
          "doc_id", "text", budget = 128, shards = 32)
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE tk AS (
          -- coalesce matches the engine: NULL text packs as 0 tokens
          -- (a NULL n would poison the fold's fill state downstream)
          SELECT doc_id, CAST(doc_id % 32 AS INT) AS shard,
                 CAST(coalesce(len($TOKS), 0) AS INT) AS n
          FROM documents),
        r AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY shard
                   ORDER BY doc_id) AS INT) AS rn
          FROM tk),
        pack(shard, rn, doc_id, n, bin, ofs, fill) AS (
          SELECT shard, rn, doc_id, n, 0, 0, n FROM r WHERE rn = 1
          UNION ALL
          SELECT r.shard, r.rn, r.doc_id, r.n,
                 CASE WHEN p.fill + r.n > 128 THEN p.bin + 1 ELSE p.bin END,
                 CASE WHEN p.fill + r.n > 128 THEN 0 ELSE p.fill END,
                 CASE WHEN p.fill + r.n > 128 THEN r.n ELSE p.fill + r.n END
          FROM pack p JOIN r ON r.shard = p.shard AND r.rn = p.rn + 1)
        SELECT doc_id, shard, CAST(bin AS INT) AS bin,
               CAST(ofs AS INT) AS "offset", CAST(n AS INT) AS n_tokens
        FROM pack ORDER BY doc_id""")),

    /* Source-mixture weights: per-source token share and the uniform-
     * target reweighting factor (the domain-mixing step). */
    QueryDef("d37_mix_weights",
      (s, dir) => Curation.mixWeights(t(s, dir, "documents"),
          "source", "text")
        .orderBy("source"),
      Some(s"""WITH per AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len($TOKS)) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        tot AS (SELECT sum(n_tokens) AS total,
                       CAST(count(*) AS BIGINT) AS n_sources
                FROM per)
        SELECT source, n_docs, n_tokens,
               CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS token_share,
               CAST(total AS DOUBLE)
                 / CAST(n_sources * n_tokens AS DOUBLE) AS weight
        FROM per, tot ORDER BY source""")),

    /* Semantic dedup (SemDeDup shape): deterministic IVF clustering as
     * candidate generation, cosine >= threshold within a cluster marks a
     * duplicate, larger id of each pair dropped. The oracle replays the
     * stride-seeded assignment (the d09 pattern) and the within-cluster
     * pair scan. */
    QueryDef("d39_semantic_dedup",
      (s, dir) => Similarity.semanticDedup(embT(s, dir),
          nCentroids = 16, threshold = 0.3)
        .orderBy("vec_id"),
      Some(s"""WITH v AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM $EMB),
        st AS (SELECT greatest(1, count(*) // 16) AS stride, min(id) AS mn FROM v),
        c AS (
          SELECT id AS centroid_id, vec AS cvec FROM v, st
          WHERE (id - mn) % stride = 0 ORDER BY id LIMIT 16),
        asg AS (
          SELECT id, vec, centroid_id FROM (
            SELECT v.id, v.vec, c.centroid_id,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY ${cosSql("v.vec", "c.cvec")} DESC, c.centroid_id ASC) AS rn
            FROM v CROSS JOIN c) WHERE rn = 1),
        nn AS (
          SELECT id, centroid_id, vec, sqrt(${dotSql("vec", "vec")}) AS n
          FROM asg),
        drops AS (
          SELECT DISTINCT y.id AS id
          FROM nn x JOIN nn y
            ON x.centroid_id = y.centroid_id AND x.id < y.id
          WHERE ${dotSql("x.vec", "y.vec")} / (x.n * y.n) >= 0.3)
        SELECT asg.id AS vec_id, asg.centroid_id,
               (drops.id IS NULL) AS keep
        FROM asg LEFT JOIN drops ON asg.id = drops.id
        ORDER BY vec_id""")),

    /* The AUTO twin of d39 — the form a 100 TB caller should run:
     * K = centroidsFor(n) (sqrt rule, floor 16, clamp 4096) instead of a
     * fixed count, so pair work stays ~n^1.5 as the corpus grows. Fully
     * oracle-gated: DuckDB recomputes the same K from count(*) (the
     * clamp is unreachable at test scale, and the hot-cluster guard's
     * auto width never engages below ~4k-wide clusters, so the exact
     * within-cluster scan is replayed 1:1). */
    QueryDef("d39a_semantic_dedup_auto",
      (s, dir) => Similarity.semanticDedupAuto(embT(s, dir),
          threshold = 0.3)
        .orderBy("vec_id"),
      Some(s"""WITH v AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM $EMB),
        k AS (SELECT least(4096, greatest(16,
                CAST(ceil(sqrt(count(*))) AS BIGINT))) AS k FROM v),
        st AS (SELECT greatest(1, count(*) // (SELECT k FROM k)) AS stride,
                      min(id) AS mn
               FROM v),
        c AS (
          SELECT id AS centroid_id, vec AS cvec FROM v, st
          WHERE (id - mn) % stride = 0 ORDER BY id LIMIT (SELECT k FROM k)),
        asg AS (
          SELECT id, vec, centroid_id FROM (
            SELECT v.id, v.vec, c.centroid_id,
                   row_number() OVER (PARTITION BY v.id
                     ORDER BY ${cosSql("v.vec", "c.cvec")} DESC, c.centroid_id ASC) AS rn
            FROM v CROSS JOIN c) WHERE rn = 1),
        nn AS (
          SELECT id, centroid_id, vec, sqrt(${dotSql("vec", "vec")}) AS n
          FROM asg),
        drops AS (
          SELECT DISTINCT y.id AS id
          FROM nn x JOIN nn y
            ON x.centroid_id = y.centroid_id AND x.id < y.id
          WHERE ${dotSql("x.vec", "y.vec")} / (x.n * y.n) >= 0.3)
        SELECT asg.id AS vec_id, asg.centroid_id,
               (drops.id IS NULL) AS keep
        FROM asg LEFT JOIN drops ON asg.id = drops.id
        ORDER BY vec_id""")),

    /* As-of join: each click picks the latest SAME-USER view at or
     * before it (point-in-time lookup). Spark resolves it with a union +
     * one window pass (no join at all — see StreamOps.asofJoin); the
     * oracle is DuckDB's native ASOF LEFT JOIN. Views are deduped to one
     * per (user, ts) first — "the" as-of row is undefined otherwise. */
    QueryDef("d40_asof_join",
      (s, dir) => {
        val e = t(s, dir, "events")
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
        val views = e.filter(col("event_type") === "view")
          .groupBy("user_id", "ts").agg(max("event_id").as("view_id"))
          .withColumn("view_ts", col("ts"))
        StreamOps.asofJoin(clicks, views, Seq("user_id"), "ts", "ts",
            Map("view_id" -> "view_id", "view_ts" -> "view_ts"))
          .select(col("user_id"), col("click_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
            col("view_id"),
            date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"))
          .orderBy("user_id", "click_id")
      },
      Some("""WITH v AS (
          -- rights need a defined (key, ts) to ever be "the latest
          -- right at-or-before" (the engine drops them)
          SELECT user_id, ts, max(event_id) AS view_id FROM events
          WHERE event_type = 'view' AND user_id IS NOT NULL
            AND ts IS NOT NULL
          GROUP BY user_id, ts),
        c AS (
          SELECT user_id, event_id AS click_id, ts FROM events
          WHERE event_type = 'click')
        -- the CASEs neutralize DuckDB's ASOF nulls-last quirk: a NULL-ts
        -- click sorts after every view there and "matches" the latest
        -- one, where v.ts <= NULL is never true — the engine (and SQL)
        -- leave such a left unmatched
        SELECT c.user_id, c.click_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
               CASE WHEN c.ts IS NULL THEN NULL ELSE v.view_id END AS view_id,
               CASE WHEN c.ts IS NULL THEN NULL
                    ELSE strftime(v.ts, '%Y-%m-%d %H:%M:%S') END AS view_ts
        FROM c ASOF LEFT JOIN v
          ON c.user_id = v.user_id AND v.ts <= c.ts
        ORDER BY c.user_id, c.click_id""")),

    /* STREAMING as-of drive — d40's lookup through the watermarked
     * keyed-state operator, fed as AvailableNow file micro-batches
     * (2 files per side, BatchFiles pins replay order): the watermark
     * advances batch over batch, exercising the cross-batch buffering
     * asofJoinStream exists for. Each side splits on a TIME-ORDERED
     * rank (ntile over ts), not on event_id: batch 1's rows all sit
     * at-or-above batch 0's max ts, so none arrive below the watermark
     * batch 0 advanced — the "output ≡ batch asofJoin on the ripe
     * lefts" claim holds by construction, independent of any
     * id↔timestamp correlation in the testdata generation. ORACLE-GATED
     * (round 11; formerly rows-only): the emitted set — lefts RIPE by
     * the final watermark — IS expressible in SQL, because AvailableNow
     * drains everything so the final watermark is a pure function of
     * the inputs: min over sources of (ms-truncated max event time)
     * minus the delay (Spark's watermark tracker floors each row's
     * micros to ms before taking the max). The DuckDB oracle replays
     * d40's ASOF join restricted to clicks STRICTLY below that
     * watermark, and the Spark side drops boundary-instant lefts
     * (left_ts == w) symmetrically: a left exactly AT the final
     * watermark is the pending-at-final-watermark edge (StreamOps
     * ms-granularity doc) — event-time timeouts fire only when the
     * watermark strictly EXCEEDS the armed instant, so on a bounded
     * drive such a left emits only if an older pending left on the
     * same key happens to arm the group's timeout below w. That is
     * drive-order dependent, so the boundary instant is excluded from
     * BOTH sides of the comparison (the r11 `<=` oracle was a latent
     * false-mismatch against future testdata with a click at exactly
     * min(max ts) - delay).
     * The drive writes through a parquet FILE sink (executor-side;
     * scale-true for real backfills) under the same scratch root, so
     * the result is localCheckpointed here before the dirs are
     * deleted. */
    QueryDef("d53_streaming_asof", (s, dir) => d53Drive(s, dir, "json"),
      Some(D53AsofSql)),

    /* The SAME drive through the BINARY (UnsafeRow) payload codec: the
     * streamed output is codec-independent by contract (StreamingSpec
     * pins equality on nested/null/sub-ms payloads), so the d53 oracle
     * applies verbatim — and registering the entry puts the binary
     * state round-trip under the DRIVER's DuckDB gate end-to-end, not
     * just the spec suite. */
    QueryDef("d53b_streaming_asof_binary",
      (s, dir) => d53Drive(s, dir, "binary"),
      Some(D53AsofSql)),


    /* Per-source cap: keep the `maxPerGroup` highest-quality docs per
     * source (the C4 "cap pages per host" rule) — rank + keep flag so
     * the drop is auditable. */
    QueryDef("d41_domain_cap",
      (s, dir) => Curation.domainCap(t(s, dir, "documents"),
          "doc_id", "source", "text", maxPerGroup = 100)
        .select("doc_id", "source", "rank", "keep")
        .orderBy("doc_id"),
      Some(s"""WITH q AS (
          SELECT doc_id, source,
            CASE WHEN length(text) = 0 THEN 0.0 ELSE
              (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
                 / length(text)::DOUBLE) * 0.5
              + least(($en::DOUBLE / len($TOKS)::DOUBLE) * 5.0, 1.0) * 0.2
              + (CASE WHEN (length(text)::DOUBLE - (len($TOKS)::DOUBLE - 1.0))
                             / len($TOKS)::DOUBLE BETWEEN 3.0 AND 10.0
                      THEN 1.0 ELSE 0.5 END) * 0.3
            END AS quality
          FROM documents),
        r AS (
          SELECT doc_id, source,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY quality DESC, doc_id ASC) AS INT) AS rank
          FROM q)
        SELECT doc_id, source, rank, rank <= 100 AS keep
        FROM r ORDER BY doc_id""")),

    /* Deterministic corpus shuffle: md5(seed:id) keys a reproducible
     * global permutation — shard via the 32-bit bucket (the d35
     * pattern), position via within-shard sort. No global sort. */
    QueryDef("d42_corpus_shuffle",
      (s, dir) => Curation.corpusShuffle(t(s, dir, "documents"),
          "doc_id", seed = "s42", nShards = 8)
        .orderBy("doc_id"),
      Some("""WITH k AS (
          SELECT doc_id,
                 md5('s42:' || CAST(doc_id AS VARCHAR)) AS key
          FROM documents),
        s AS (
          SELECT doc_id, key,
                 CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, 9),
                       i -> CAST(strpos('0123456789abcdef',
                              substr(key, CAST(i AS INT), 1)) - 1 AS BIGINT))),
                   (acc, x) -> acc * 16 + x) % 8 AS INT) AS shard
          FROM k)
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard
                 ORDER BY key ASC, doc_id ASC) AS INT) AS pos
        FROM s ORDER BY doc_id""")),

    /* Overlapping fixed-window chunking (training-sequence prep): 16-token
     * windows every 8 tokens plus a tail window — scan-side, no shuffle. */
    QueryDef("d43_chunk_sequences",
      (s, dir) => Curation.chunkSequences(t(s, dir, "documents"),
          "doc_id", "text", windowTokens = 16, strideTokens = 8)
        .withColumnRenamed("start", "chunk_start")
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH tk AS (
          -- chunkers emit NO rows for NULL text (the engine guards the
          -- sequence; unguarded, this CASE's ELSE would emit a phantom
          -- NULL chunk row for a null doc)
          SELECT doc_id, $TOKS AS toks FROM documents
          WHERE text IS NOT NULL),
        k AS (
          SELECT doc_id, toks,
                 CASE WHEN len(toks) > 16
                      THEN CAST((len(toks) - 16 + 7) // 8 AS INT)
                      ELSE 0 END AS kmax
          FROM tk),
        ix AS (
          SELECT doc_id, toks, unnest(range(0, kmax + 1)) AS i FROM k)
        SELECT doc_id, CAST(i AS INT) AS chunk_id,
               CAST(i * 8 AS INT) AS chunk_start,
               CAST(len(toks[(i*8+1):(i*8+16)]) AS INT) AS n_tokens,
               array_to_string(toks[(i*8+1):(i*8+16)], ' ') AS chunk
        FROM ix ORDER BY doc_id, chunk_id""")),

    /* DSIR-shape importance weights: hashed-bigram likelihood ratios of
     * a target subset (lang='en') vs the raw corpus, add-1 smoothed,
     * summed per doc as a sorted fold (ratios not logs — libm-free, so
     * the hash compare is exact). */
    QueryDef("d45_importance_weights",
      (s, dir) => Curation.importanceWeights(t(s, dir, "documents"),
          "doc_id", "text", col("lang") === "en", buckets = 64)
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (SELECT doc_id, lang, $TOKS AS toks FROM documents),
        g AS (SELECT doc_id, lang,
                unnest(list_transform(range(1, len(toks)),
                  i -> array_to_string(toks[i:i+1], ' '))) AS g
              FROM tk),
        gb AS (SELECT doc_id, lang,
                 CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, 9),
                       i -> CAST(strpos('0123456789abcdef',
                              substr(md5(g), CAST(i AS INT), 1)) - 1 AS BIGINT))),
                   (acc, x) -> acc * 16 + x) % 64 AS INT) AS b
               FROM g),
        cnt AS (SELECT b, CAST(count(*) AS BIGINT) AS cnt_r,
                  CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS cnt_t
                FROM gb GROUP BY b),
        tot AS (SELECT CAST(sum(cnt_r) AS BIGINT) AS total_r,
                       CAST(sum(cnt_t) AS BIGINT) AS total_t FROM cnt),
        ratio AS (SELECT cnt.b,
                    ((cnt.cnt_t + 1)::DOUBLE / (tot.total_t + 64)::DOUBLE)
                      / ((cnt.cnt_r + 1)::DOUBLE / (tot.total_r + 64)::DOUBLE) AS r
                  FROM cnt CROSS JOIN tot),
        agg AS (SELECT gb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                  list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(ratio.r))),
                    (acc, x) -> acc + x) AS sum_r
                FROM gb JOIN ratio USING (b) GROUP BY gb.doc_id)
        SELECT d.doc_id, CAST(coalesce(a.n_feats, 0) AS BIGINT) AS n_feats,
               CASE WHEN coalesce(a.n_feats, 0) = 0 THEN 0.0
                    ELSE a.sum_r / a.n_feats END AS avg_ratio,
               coalesce(a.n_feats, 0) > 0 AND a.sum_r / a.n_feats >= 1.0 AS target_like
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id""")),

    /* Token-budget selection: keep best-quality docs until a 10k-token
     * budget runs out. The Spark side is the two-phase banded prefix sum
     * (no global-window single partition); the oracle is the naive
     * global window — all-integer arithmetic makes them exactly equal. */
    QueryDef("d46_token_budget",
      (s, dir) => Curation.tokenBudgetSelect(t(s, dir, "documents"),
          "doc_id", "text", budgetTokens = 10000L)
        .orderBy("doc_id"),
      Some(s"""WITH q AS (
          SELECT doc_id,
            CASE WHEN length(text) = 0 THEN 0.0 ELSE
              (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
                 / length(text)::DOUBLE) * 0.5
              + least(($en::DOUBLE / len($TOKS)::DOUBLE) * 5.0, 1.0) * 0.2
              + (CASE WHEN (length(text)::DOUBLE - (len($TOKS)::DOUBLE - 1.0))
                             / len($TOKS)::DOUBLE BETWEEN 3.0 AND 10.0
                      THEN 1.0 ELSE 0.5 END) * 0.3
            END AS quality,
            CAST(len($TOKS) AS BIGINT) AS n_tokens
          FROM documents)
        SELECT doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS BIGINT)
                 AS cum_tokens,
               sum(n_tokens) OVER (ORDER BY quality DESC, doc_id) <= 10000 AS keep
        FROM q ORDER BY doc_id""")),

    /* Cross-source duplication matrix: d05's near-dup pairs rolled up
     * to unordered source-pair counts — which dumps duplicate which.
     * Integer counts only (mean jaccard would hash-diverge on
     * summation order). */
    QueryDef("d47_source_overlap",
      (s, dir) => Dedup.sourceOverlap(t(s, dir, "documents"),
          "doc_id", "source", "text",
          k = 4, numHashes = 16, bands = 8, threshold = 0.3)
        .orderBy("source_a", "source_b"),
      Some(s"""WITH p AS ($MinhashPairsSql),
        s AS (SELECT doc_id, source FROM documents),
        ps AS (SELECT least(sa.source, sb.source) AS source_a,
                      greatest(sa.source, sb.source) AS source_b
               FROM p JOIN s sa ON p.id_a = sa.doc_id
                      JOIN s sb ON p.id_b = sb.doc_id)
        SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
        FROM ps GROUP BY source_a, source_b
        ORDER BY source_a, source_b""")),

    /* Snapshot DIFF: added/removed/changed/unchanged per doc id between
     * two corpus snapshots, by scan-side 16-byte fingerprints + ONE
     * full-outer id join (text never rides the join). Snapshots are
     * simulated from the one table: prev drops ids ≡4 (mod 5), cur
     * drops ids ≡0 (mod 5) and edits text for ids ≡0 (mod 7). */
    QueryDef("d50_snapshot_diff",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val prev = docs.filter(col("doc_id") % 5 =!= 4)
          .select(col("doc_id"), col("text"))
        val cur = docs.filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        Curation.snapshotDiff(prev, cur, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH prev AS (
          SELECT doc_id,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fpa
          FROM documents WHERE doc_id % 5 <> 4),
        cur AS (
          SELECT doc_id,
                 md5(trim(regexp_replace(lower(
                   CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END),
                   '\s+', ' ', 'g'))) AS fpb
          FROM documents WHERE doc_id % 5 <> 0)
        SELECT coalesce(prev.doc_id, cur.doc_id) AS doc_id,
               CASE WHEN prev.doc_id IS NULL THEN 'added'
                    WHEN cur.doc_id IS NULL THEN 'removed'
                    WHEN fpa IS DISTINCT FROM fpb THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id
        ORDER BY doc_id""")),

    /* Dataset CARD: doc/token counts across every (source, lang)
     * combination in one CUBE pass — per source, per lang, per pair,
     * grand total (h05 anchors ROLLUP; this anchors CUBE). The g_source/
     * g_lang GROUPING markers disambiguate subtotal rows from groups
     * whose dim value is genuinely NULL — both engines emit them, so
     * the hash compare pins the disambiguation itself. */
    QueryDef("d51_data_card",
      (s, dir) => Curation.dataCard(t(s, dir, "documents"), "text",
          Seq("source", "lang"))
        // CUBE subtotal rows carry NULL keys: Spark sorts NULLS FIRST by
        // default, DuckDB NULLS LAST — spell it out (the r01/r02 rule)
        .orderBy(col("source").asc_nulls_last, col("lang").asc_nulls_last,
          col("g_source"), col("g_lang")),
      Some("""SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens,
               CAST(GROUPING(source) AS BIGINT) AS g_source,
               CAST(GROUPING(lang) AS BIGINT) AS g_lang
        FROM documents GROUP BY CUBE (source, lang)
        ORDER BY source, lang, g_source, g_lang"""))
  )
}
