package graft

import org.apache.spark.sql.functions._

/** BENCH-ONLY synthetic scale-up of the `documents`, `events`, and
  * `embeddings` tables: writes N-times-larger copies so the heavy
  * operator families can be timed at a data size where execution
  * dominates compile/dispatch (SCALE.md notes the sf0.1 MinHash timings
  * measure codegen as much as data; the driver testdata tops out at
  * sf0.1 in this sandbox).
  *
  * Construction preserves each BASE table's pair/group structure
  * instead of distorting it — copy `c` of N:
  *   - `documents`: ids remap to id*N+c and every whitespace token gets
  *     a `_c<c>` suffix. Token spaces of different copies are DISJOINT
  *     (no cross-copy shingle or fingerprint collisions, which plain
  *     duplication would create — every doc would gain N-1 exact twins
  *     and the pair count would explode quadratically), while within
  *     one copy the renaming is a bijection, so each copy's shingle-set
  *     relations — and hence its dup pairs — are exactly the base's.
  *     N x rows, N x duplicate pairs, N x candidate load.
  *   - `events`: event and user ids remap to id*N+c; timestamps,
  *     types, values unchanged. Every keyed operator (tumbling/sliding
  *     per (window, user), sessionize, trailing stats, as-of, interval
  *     join) partitions on user, so disjoint user spaces mean N x
  *     groups at the base's per-group density — no cross-copy joins or
  *     sessions, linear by construction.
  *   - `embeddings`: vec ids remap to id*N+c; copy c multiplies
  *     element i by a deterministic sign (murmur3(c, i) parity) — a
  *     DIAGONAL ORTHOGONAL transform, so every within-copy cosine (and
  *     norm) is bit-exactly the base's and each copy carries the base's
  *     near-dup pair set, while cross-copy cosines decorrelate toward 0
  *     (plain duplication would give every vector N-1 cosine-1.0 twins
  *     and quadratic pair blow-up). Labels keep their values: N x rows
  *     per label class. Sign flips cannot make cross-copy cosines
  *     exactly zero, so high-threshold candidate joins may see a few
  *     straggler cross-copy pairs — fine for ratio measurement, which
  *     is all this table is for (oracle queries never run against it).
  *
  * The relational tables (customer/supplier/part/orders/lineitem)
  * scale like dbgen SF — every fact key remaps k*N+c so joins stay 1:1
  * per copy, while nation/region stay fixed (real dims grow slower
  * than facts; the audited broadcast sides stay broadcast-sized).
  *
  * Env: SPARK_GRAFT_SF_DIR (base, default sf0.1), SPARK_GRAFT_SCALE
  * (default 10), SPARK_GRAFT_SCALE_OUT (default /tmp/graft_scale_<N>x),
  * SPARK_GRAFT_SCALE_TABLES (default documents,events,embeddings; add
  * customer,supplier,part,orders,lineitem for the relational family —
  * nation/region then copy through unscaled so joins resolve).
  * Usage: build once, then point the canary-gated Bench at it:
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_scale_10x \
  *   SPARK_GRAFT_ONLY=d05_...,d07_... sbt "runMain graft.Bench"
  */
object ScaleData {

  /** Plant deterministic near-duplicate partners into an embeddings
    * table: every `every`-th id (by pmod) gets a twin at `id +
    * idOffset` whose vector is the original plus per-element hash
    * noise of `alpha` x the vector's RMS — expected cosine ~=
    * 1/sqrt(1 + alpha^2/3) (~0.96 at the 0.5 default), spread either
    * side of it. The synthetic embeddings are near-orthogonal (max
    * pairwise cosine ~0.5-0.6, SCALE.md), so WITHOUT planting there is
    * nothing above an 0.9 threshold and LSH recall at the design point
    * is unmeasurable on them; ground truth on planted data still comes
    * from brute force, never from the plant list (a plant whose noise
    * draw lands below the threshold simply isn't truth). Fully
    * column-deterministic: same input -> same plants on any cluster. */
  def plantNearDups(em: org.apache.spark.sql.DataFrame, idCol: String,
                    vecCol: String, every: Int = 50, alpha: Double = 0.5,
                    idOffset: Long = 1000000L): org.apache.spark.sql.DataFrame = {
    require(every >= 1 && alpha > 0.0, s"need every>=1, alpha>0; got $every, $alpha")
    val planted = em.filter(pmod(col(idCol), lit(every)) === 0)
      .withColumn("_rms", sqrt(aggregate(col(vecCol), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double"))
        / size(col(vecCol))))
      .withColumn(vecCol, transform(col(vecCol), (x, i) =>
        (x.cast("double")
          + (pmod(hash(col(idCol), i, lit("plant")), lit(2001)) - lit(1000))
            .cast("double") / 1000.0 * alpha * col("_rms")).cast("float")))
      .withColumn(idCol, col(idCol) + idOffset)
      .drop("_rms")
    em.unionByName(planted.select(em.columns.map(col).toIndexedSeq: _*))
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", s"/tmp/graft_scale_${n}x")
    val tables = sys.env.getOrElse("SPARK_GRAFT_SCALE_TABLES",
      "documents,events,embeddings").split(",").map(_.trim).toSet
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)

    def write(table: String, copy: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame): Unit = {
      if (!tables.contains(table)) return
      val df = spark.read.parquet(s"$base/$table.parquet")
      (0 until n).map(copy(df, _)).reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"""{"scaled":"$out/$table.parquet","factor":$n,"rows":${spark.read.parquet(s"$out/$table.parquet").count()}}""")
    }

    write("documents", (docs, c) =>
      docs
        .withColumn("doc_id", col("doc_id") * n + c)
        // suffix every token: bijective within a copy, disjoint across
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1_c$c"))
        .withColumn("n_chars", length(col("text")).cast("long")))

    write("events", (ev, c) =>
      ev.withColumn("event_id", col("event_id") * n + c)
        .withColumn("user_id", col("user_id") * n + c))

    // PLANT near-dup partners on the BASE ids (1/50 of rows, cosine
    // ~0.96 expected, evenly spread across copies), THEN remap and
    // sign-transform plant and original alike — the element-wise flip
    // preserves their cosine exactly. The base embeddings are
    // near-orthogonal, so un-planted scaled corpora have nothing above
    // an 0.9 threshold and d10a/d10b recall at the design point could
    // only be measured at artificially low thresholds. Planted base
    // ids sit at +1M, so after remap they stay far above any organic
    // scaled id (maxBase*N+N ~ tens of k).
    write("embeddings", (em, c) =>
      plantNearDups(em, "vec_id", "embedding")
        .withColumn("vec_id", col("vec_id") * n + c)
        .withColumn("embedding", transform(col("embedding"),
          (x, i) => when(pmod(hash(lit(c), i), lit(2)) === 0, x).otherwise(-x))))

    // Relational facts scale like dbgen SF: every fact/dim KEY remaps
    // consistently (k*N+c), so joins stay 1:1 per copy and per-key
    // groups multiply; nation/region (the genuinely fixed dims) are NOT
    // scaled — at higher SF real dims grow slower than facts, and the
    // broadcast sides of the audited plans stay broadcast-sized.
    def remap(cols: String*)(df: org.apache.spark.sql.DataFrame, c: Int) =
      cols.foldLeft(df)((d, k) => d.withColumn(k, col(k) * n + c))
    write("customer", remap("c_custkey"))
    write("supplier", remap("s_suppkey"))
    write("part", remap("p_partkey"))
    write("orders", remap("o_orderkey", "o_custkey"))
    write("lineitem", remap("l_orderkey", "l_partkey", "l_suppkey"))
    if (Seq("customer", "supplier", "part", "orders", "lineitem")
        .exists(tables.contains)) {
      Seq("nation", "region").foreach { t =>
        spark.read.parquet(s"$base/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    }

    spark.stop()
  }
}
