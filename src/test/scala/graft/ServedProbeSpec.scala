package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Blocks until the listener bus has delivered every posted event
    * (`waitUntilEmpty` is private[spark], public in bytecode). */
  private def drainListenerBus(): Unit = {
    val bus = classOf[org.apache.spark.SparkContext]
      .getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }

  /** Spark jobs started from `body`'s call through its collect. */
  private def jobsOf(body: => Unit): Int = {
    val tag = s"served-probe-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.tag") == tag))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty("graft.spec.tag", tag)
    try { body; drainListenerBus() }
    finally {
      spark.sparkContext.setLocalProperty("graft.spec.tag", null)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get
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
      val n = jobsOf { probe(one).collect(); () }
      assert(n <= 2, s"$face: a local single-query probe ran $n jobs")
    }
  }
}
