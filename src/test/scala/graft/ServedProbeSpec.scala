package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.datax.Similarity
import graft.datax.Similarity.IndexSpec

/** The two ways a served-index probe builds its probes: on the driver
  * for a query frame that is a local relation, and in Spark for any
  * other frame. The same query rows must give the same answer either
  * way, and the driver path must keep a single-query probe at two Spark
  * jobs. Three indexes over the sf0.001 embeddings (raw PQ, residual PQ,
  * plain IVF); the raw PQ and the IVF one carry an `ivfIndexAppendBatch`
  * increment. */
class ServedProbeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = TestSpark.spark

  private lazy val root = java.nio.file.Files.createTempDirectory("graft-served").toString
  private def fs = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private lazy val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    .select("vec_id", "embedding")

  /** Eight corpus vectors as a quantizer, plus an exact copy of the
    * first under a higher id: every query's cosine to the two ties
    * exactly. */
  private lazy val tiedCentroids: DataFrame = {
    val c = emb.filter(col("vec_id") % 64 === 1)
      .select(col("vec_id").as("centroid_id"), Similarity.toDouble(col("embedding")).as("cvec"))
    c.unionByName(c.filter(col("centroid_id") === 1).withColumn("centroid_id", lit(1000L)))
  }

  /** (raw PQ, residual PQ, plain IVF) index dirs, built once: the raw
    * PQ and IVF ones over [[tiedCentroids]] and 80% of the corpus, the
    * remaining shard appended as increment batch 0. */
  private lazy val dirs: (String, String, String) = {
    val base = emb.filter(col("vec_id") % 5 =!= 3)
    val shard = emb.filter(col("vec_id") % 5 === 3)
    val Seq(raw, res, ivf) = Seq("raw", "res", "ivf").map(n => s"$root/$n")
    Similarity.pqIndexWriteWith(base, raw, tiedCentroids,
      Similarity.pqCentroids(base, m = 8, ksub = 16))
    Similarity.pqIndexWrite(base, res, nCentroids = 8,
      spec = IndexSpec(encoding = "residual"))
    Similarity.ivfIndexWriteWith(base, ivf, tiedCentroids)
    Seq(raw, ivf).foreach(Similarity.ivfIndexAppendBatch(spark, _, shard, 0L))
    (raw, res, ivf)
  }

  override def afterAll(): Unit = {
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    super.afterAll()
  }

  /** Hostile query rows in the embeddings schema: a null embedding, a
    * NaN element, an all-zero vector (NaN cosines), the tied centroid
    * itself (two exactly tied cosines), and corpus rows whose query ids
    * equal corpus ids. */
  private lazy val queryRows: Seq[Row] = {
    val corpus = emb.filter(col("vec_id") <= 4).orderBy("vec_id").collect().toSeq
    val v = corpus(1).getSeq[Float](1) // vec_id 1: centroids 1 and 1000
    corpus ++ Seq(
      Row(9001L, null),
      Row(9002L, Float.NaN +: v.tail),
      Row(9003L, Seq.fill(v.length)(0.0f)),
      Row(9004L, v))
  }

  /** The query rows as a local relation and as a parquet table. */
  private lazy val shapes: (DataFrame, DataFrame) = {
    val local = spark.createDataFrame(queryRows.asJava, emb.schema)
    local.write.parquet(s"$root/queries")
    (local, spark.read.parquet(s"$root/queries"))
  }

  private def outcome(df: => DataFrame): Either[String, Seq[Row]] =
    try Right(df.orderBy("query_id", "rank").collect().toSeq)
    catch { case e: Exception => Left(e.getClass.getName) }

  private def assertSameBothShapes(name: String)(probe: DataFrame => DataFrame): Unit = {
    val (local, table) = shapes
    val onDriver = probe(local)
    assert(!onDriver.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
      s"$name: a local query frame must not build checkpointed probes")
    val got = outcome(onDriver)
    val want = outcome(probe(table))
    assert(want.exists(_.nonEmpty), s"$name: the fixture must return rows, got $want")
    assert(got == want, s"$name: local and distributed probes disagree")
  }

  test("local ≡ distributed probes on hostile queries: raw PQ, residual PQ, plain IVF, reranked PQ") {
    val (raw, res, ivf) = dirs
    assertSameBothShapes("raw PQ")(Similarity.ivfPqTopK(spark, raw, _, k = 5, nProbe = 1))
    assertSameBothShapes("residual PQ")(Similarity.ivfPqTopK(spark, res, _, k = 5, nProbe = 2))
    assertSameBothShapes("plain IVF")(Similarity.ivfTopKIndexed(spark, ivf, _, k = 5, nProbe = 1))
    assertSameBothShapes("reranked PQ")(q =>
      Similarity.ivfPqTopKReranked(spark, raw, q, emb, k = 3, rerank = 8, nProbe = 3))
  }

  test("a local single-query probe over base + increment runs at most 2 Spark jobs (ivfPqTopK, ivfTopKIndexed)") {
    val (raw, _, ivf) = dirs
    val one = spark.createDataFrame(queryRows.take(1).asJava, emb.schema)
    Seq[(String, DataFrame => DataFrame)](
      "ivfPqTopK" -> (Similarity.ivfPqTopK(spark, raw, _, k = 10, nProbe = 4)),
      "ivfTopKIndexed" -> (Similarity.ivfTopKIndexed(spark, ivf, _, k = 10, nProbe = 4))
    ).foreach { case (face, probe) =>
      // the first probe resolves and caches the build geometry; the
      // bounded top-k of one query keeps the distributed window's rows
      val warm = outcome(probe(one))
      assert(warm.exists(_.length == 10), s"$face: got $warm")
      assert(warm == outcome(probe(one.repartition(1))),
        s"$face: the single-query top-k disagrees with the distributed probe")
      val n = TestSpark.jobsOf { probe(one).collect(); () }
      assert(n <= 2, s"$face: a local single-query probe ran $n jobs")
    }
  }

  test("an append never encodes against stale geometry: after a rebuild between two appends the increment's rows follow the NEW sidecars (raw PQ, residual PQ, plain IVF)") {
    val shard = emb.filter(col("vec_id") % 5 === 3)
    val corpus = emb.filter(col("vec_id") % 5 =!= 3)
    // two build corpora whose stride samples — and so quantizer and
    // codebook — differ
    val (first, second) = (corpus.filter(col("vec_id") % 3 =!= 0),
      corpus.filter(col("vec_id") % 3 =!= 1))
    def sidecars(dir: String, pq: Boolean): (DataFrame, Option[DataFrame]) = {
      def read(name: String) = spark.read
        .parquet(Similarity.sidecarOf(spark, dir, name)).localCheckpoint(eager = true)
      (read("centroids.parquet"), if (pq) Some(read("pq_codebook.parquet")) else None)
    }
    // (id, centroid_id, sub, code) rows — or (id, centroid_id, vec) on
    // the plain layout — a shard encodes to under the given geometry
    def encoded(geom: (DataFrame, Option[DataFrame]), residual: Boolean): DataFrame =
      geom match {
        case (cents, None) => Similarity.ivfAssign(shard, cents)
        case (cents, Some(book)) if residual =>
          val res = Similarity.residualRows(shard, cents, "vec_id", "embedding")
          res.select("id", "centroid_id")
            .join(Similarity.pqEncode(res, book, "id", "vec"), "id")
        case (cents, Some(book)) =>
          Similarity.pqCodeRowsForPlan(shard, cents, book)
            .select(col("id"), col("centroid_id"),
              posexplode(col("codes")).as(Seq("sub", "code")))
      }
    def incRows(dir: String, table: String, batch: Long, pq: Boolean): DataFrame = {
      val rows = spark.read.parquet(s"$dir/$table").filter(col("batch") === batch)
      if (pq) rows.select(col("id"), col("centroid_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      else rows.select("id", "vec", "centroid_id")
    }
    def same(a: DataFrame, b: DataFrame): Boolean = {
      val bb = b.select(a.columns.map(col).toIndexedSeq: _*)
      a.exceptAll(bb).isEmpty && bb.exceptAll(a).isEmpty
    }
    Seq[(String, (DataFrame, String) => Unit, Boolean)](
      ("raw PQ", Similarity.pqIndexWrite(_, _, nCentroids = 4), false),
      ("residual PQ", Similarity.pqIndexWrite(_, _, nCentroids = 4,
        spec = IndexSpec(encoding = "residual")), true),
      ("plain IVF", Similarity.ivfIndexWrite(_, _, nCentroids = 4), false)
    ).zipWithIndex.foreach { case ((name, write, residual), i) =>
        val dir = s"$root/stale-$i"
        def build(vectors: DataFrame): Unit = write(vectors, dir)
        val pq = name != "plain IVF"
        val inc = if (pq) "codes_inc.parquet" else "assigned_inc.parquet"
        build(first)
        // the first append resolves (and caches) the first build's geometry
        Similarity.ivfIndexAppendBatch(spark, dir, shard, 0L)
        val old = sidecars(dir, pq)
        assert(same(encoded(old, residual), incRows(dir, inc, 0L, pq)),
          s"$name: the first increment encodes against the first build")
        build(second)
        Similarity.ivfIndexAppendBatch(spark, dir, shard, 1L)
        val got = incRows(dir, inc, 1L, pq)
        assert(got.select("id").distinct().count() == shard.count(),
          s"$name: every shard vector lands")
        assert(same(encoded(sidecars(dir, pq), residual), got),
          s"$name: the second increment must encode against the rebuilt sidecars")
        assert(!same(encoded(old, residual), got),
          s"$name: vacuous — the rebuild did not change the shard's encoding")
    }
  }
}
