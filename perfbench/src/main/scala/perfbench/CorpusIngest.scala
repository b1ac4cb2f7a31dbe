package perfbench

import java.io.PrintWriter

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.datax.{Dedup, Similarity}
import graft.streaming.{BatchFiles, DedupStream, EmbedStream}

/** corpus_ingest: the curation extension's ingest path, in four steps:
  * (1) the text dedup stream over seeded documents, (2) a PQ serving
  * index built over the base share of seeded embeddings, (3) the vector
  * dedup stream over the rest, appending survivors to that index, and
  * (4) a closed loop of one client issuing single-query top-K probes.
  *
  * Warm-up happens inside the steps: each drive's first micro-batch and
  * the first probes are not counted, so one pass serves as both. */
final class CorpusIngest(val ctx: Ctx) extends Workload {
  import ctx._

  private val nDocs = if (tiny) 120 else 400
    private val nBase = if (tiny) 300 else 1000
  private val nStream = if (tiny) 120 else 400
  /** Files per drive, one micro-batch each; the first is the warm-up. */
  private val batches = 2
  private val warmQueries = 1
    private val (nCentroids, pqM, pqKsub, nProbe, topK) = (16, 8, 16, 8, 10)
  private val minQueries = 3
  private val (lshTables, lshPlanes) = Dedup.bandsFor(nStream.toLong, 0.9)
  private val QueryPool = 64
  /** Lowest acceptable recall@10 against brute force over the query pool:
    * far above chance (k / corpus, under 1%), below what the 8 x 16 PQ codes
    * reach on this data (0.2 to 0.3). It catches a broken index, not a
    * weaker one. */
  private val RecallFloor = 0.1

  private val DocSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType)))
  private val VecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))

  private def docRows(s: Long, lo: Long, hi: Long): DataFrame =
    spark.createDataFrame(spark.sparkContext.range(lo, hi + 1, 1L, 4).map { id =>
      val (t, l, _) = Gen.doc(s, id); Row(id, t, l)
    }, DocSchema)

  private def vecRows(s: Long, lo: Long, hi: Long): DataFrame =
    spark.createDataFrame(spark.sparkContext.range(lo, hi + 1, 1L, 4).map { id =>
      val (v, l, _) = Gen.vector(s, id, lo); Row(id, v.toSeq, l)
    }, VecSchema)

  /** One input set; `batches` micro-batches per drive. */
  private final case class Inputs(dir: String, seed: Long, docs: Int, base: Int, stream: Int)

  private def generate(in: Inputs): Unit = {
    BatchFiles.write(docRows(in.seed, 1, in.docs), s"${in.dir}/docs", "doc_id", batches)
    vecRows(in.seed, 1, in.base).write.parquet(s"${in.dir}/base")
    BatchFiles.write(vecRows(in.seed, in.base + 1L, in.base.toLong + in.stream),
      s"${in.dir}/stream", "vec_id", batches)
  }

  private var main: Inputs = _

  override def generate(dir: String): Unit = {
    main = Inputs(dir, seed, nDocs, nBase, nStream)
    generate(main)
  }

  /** The warm-up is part of [[measure]]: first micro-batches, first probes. */
  override def warm(): Unit = ()

  // ---- the pipeline ---------------------------------------------------------

  private final case class Drive(seconds: Double, progress: Seq[StreamingQueryProgress], survivors: Array[Long])
  private var text: Drive = _
  private var vector: Drive = _
  private var buildS = 0.0
  private val queryMs = ArrayBuffer[Double]()
  private var wall = 0.0

  private def stream(dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  private def pipeline(in: Inputs, queries: Int): Unit = {
    val t0 = System.nanoTime()
    val d = in.dir
    var progress: Seq[StreamingQueryProgress] = Nil
    op("text drive") {
      val t = System.nanoTime()
      val survivors = tracer.span("text_drive", "streaming") {
        DedupStream.runAvailableNow(stream(s"$d/docs", DocSchema), s"$d/text_index", "doc_id",
          "text", s"$d/text_ckpt", onProgress = p => progress = p)
        DedupStream.visibleIndex(spark, s"$d/text_index/docs").select("doc_id").collect().map(_.getLong(0))
      }
      text = Drive(Sys.secondsSince(t), progress, survivors)
      survivors.nonEmpty && survivors.distinct.length == survivors.length
    }
    op("pq index build") {
      val t = System.nanoTime()
      tracer.span("pq_build", "datax") {
        Similarity.pqIndexWrite(spark.read.parquet(s"$d/base"), s"$d/serving", nCentroids, pqM, pqKsub)
      }
      buildS = Sys.secondsSince(t)
      true
    }
    op("vector drive") {
      val t = System.nanoTime()
      val survivors = tracer.span("vector_drive", "streaming") {
        EmbedStream.runAvailableNow(stream(s"$d/stream", VecSchema), s"$d/vec_index", "vec_id",
          "embedding", s"$d/vec_ckpt", lshTables, lshPlanes, threshold = 0.9,
          servingDir = Some(s"$d/serving"), onProgress = p => progress = p)
        DedupStream.visibleIndex(spark, s"$d/vec_index/vecs").select("vec_id").collect().map(_.getLong(0))
      }
      vector = Drive(Sys.secondsSince(t), progress, survivors)
      survivors.nonEmpty && survivors.distinct.length == survivors.length
    }
    (0 until warmQueries).foreach(i => probe(in, i, measured = false))
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (i < queries || System.nanoTime() < deadline) {
      probe(in, warmQueries + i, measured = true)
      i += 1
    }
    wall = Sys.secondsSince(t0)
  }

  private def probe(in: Inputs, i: Int, measured: Boolean): Unit = {
    val q = i % QueryPool
    val qid = 1000000000L + q
    op(s"top-k $q") {
      tracer.span(if (measured) "topk" else "topk_warm", "datax") {
        val qdf = spark.createDataFrame(java.util.List.of(Row(qid, Gen.query(in.seed, q, in.base).toSeq, 0)), VecSchema)
        val t0 = System.nanoTime()
        val df = tracer.span("build", "datax")(Similarity.ivfPqTopK(spark, s"${in.dir}/serving", qdf, topK, nProbe))
        val t1 = System.nanoTime()
        val rows = tracer.span("collect", "spark")(df.collect())
        val t2 = System.nanoTime()
        tracer.note("build_ms", (t1 - t0) / 1e6)
        tracer.note("exec_ms", (t2 - t1) / 1e6)
        tracer.notePhases(df)
        val ids = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("id")).toSeq
        if (measured) queryMs += (t2 - t0) / 1e6
        val dists = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("adc_dist"))
        rows.length == topK && rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to topK) &&
          dists.sliding(2).forall(w => w.length < 2 || w(0) <= w(1)) &&
          ids.forall(id => id >= 1 && id <= in.base.toLong + in.stream)
      }
    }
  }

  override def measure(): Unit = pipeline(main, minQueries)

  // ---- checks -----------------------------------------------------------------

  private var recall = 0.0

  override def check(): Unit = {
    // no exact copy survives next to its original
    op("text exact duplicates") {
      val kept = text.survivors.toSet
      (1L to nDocs).filter(kept).groupBy(id => Gen.doc(seed, id)._1).forall(_._2.size == 1)
    }
    op("vector exact duplicates") {
      val kept = vector.survivors.toSet
      val lo = nBase + 1L
      (lo to nBase.toLong + nStream).filter(kept)
        .groupBy(id => Gen.vector(seed, id, lo)._1.toSeq).forall(_._2.size == 1)
    }
    // recall over the whole query pool in one call, so the ratio rests on
    // 64 x k answers rather than on the few timed probes
    op("recall against brute force") {
      val d = main.dir
      val corpus = spark.read.parquet(s"$d/base").select("vec_id", "embedding")
        .unionByName(DedupStream.visibleIndex(spark, s"$d/vec_index/vecs").select("vec_id", "embedding"))
      val qdf = spark.createDataFrame((0 until QueryPool).map(q =>
        Row(1000000000L + q, Gen.query(seed, q, nBase).toSeq, 0)).toList.asJava, VecSchema)
      def answers(df: DataFrame): Map[Long, Seq[Long]] = df.collect()
        .groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("id")).toSeq }
      val truth = answers(Similarity.bruteForceTopK(corpus, qdf, topK))
      val got = answers(Similarity.ivfPqTopK(spark, s"$d/serving", qdf, topK, nProbe))
      val hits = truth.map { case (q, ids) => got.getOrElse(q, Nil).count(ids.toSet) }.sum
      recall = hits.toDouble / (QueryPool * topK)
      // the exact nearest neighbour is the corpus vector the query was drawn from
      val top1 = truth.count { case (q, ids) => ids.headOption.exists(got.getOrElse(q, Nil).contains) }
      System.err.println(s"[perfbench] recall@$topK $recall, nearest found for $top1 of $QueryPool queries")
      recall >= RecallFloor && top1 >= 0.8 * QueryPool
    }
    val w = new PrintWriter(s"${main.dir}/../survivors.json", "UTF-8")
    try w.println(Json.obj(Seq("text" -> text.survivors.length.toString,
      "vector" -> vector.survivors.length.toString)))
    finally w.close()
  }

  // ---- metrics ------------------------------------------------------------------

  override def wallSeconds: Double = wall

  /** Micro-batches after each drive's first: (input rows, trigger ms). */
  private def steady(d: Drive): Seq[(Long, Double)] =
    d.progress.filter(_.numInputRows > 0).drop(1)
      .map(p => (p.numInputRows, p.durationMs.get("triggerExecution").doubleValue))

  private def rate(bs: Seq[(Long, Double)]): Double =
    bs.map(_._1).sum / math.max(bs.map(_._2).sum / 1000, 1e-9)

  override def e2e: Map[String, Double] = Map(
    "read_p50_ms" -> Stats.median(queryMs.toSeq),
    "write_items_per_s" -> rate(steady(text) ++ steady(vector)))

  private def spanJobs(name: String): Seq[JobRec] =
    tracer.jobsOf(tracer.measuredOps.filter(_.name == name).map(_.id).toSet)

  private def streamingLayer(kind: String, drive: Drive, jobs: Int): Map[String, Double] = {
    val ps = drive.progress.filter(_.numInputRows > 0)
    def p50(k: String) = Stats.median(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    Map(s"streaming.$kind.batches" -> ps.size.toDouble,
      s"streaming.$kind.jobs_per_batch" -> jobs / math.max(1.0, ps.size),
      s"streaming.$kind.add_batch_ms" -> p50("addBatch"),
      s"streaming.$kind.query_planning_ms" -> p50("queryPlanning"),
      s"streaming.$kind.wal_commit_ms" -> p50("walCommit"),
      s"streaming.$kind.latest_offset_ms" -> p50("latestOffset"))
  }

  override def layer: Map[String, Double] = {
    val probes = tracer.measuredOps.filter(_.name == "topk")
    val spans = tracer.spans.synchronized(tracer.spans.toList)
    val collects = spans.filter(s => s.phase == "measure" && s.name == "topk")
    def p50(k: String) = Stats.median(collects.flatMap(_.attrs.get(k)))
    streamingLayer("text", text, spanJobs("text_drive").size) ++
      streamingLayer("vector", vector, spanJobs("vector_drive").size) ++ Map(
      "dedup.text_kept_ratio" -> text.survivors.length.toDouble / nDocs,
      "dedup.vector_kept_ratio" -> vector.survivors.length.toDouble / nStream,
      "ingest.docs_per_s" -> rate(steady(text)),
      "ingest.vectors_per_s" -> rate(steady(vector)),
      "ingest.text_drive_s" -> text.seconds,
      "ingest.vector_drive_s" -> vector.seconds,
      "index.build_s" -> buildS,
      "index.build_jobs" -> spanJobs("pq_build").size.toDouble,
      "search.topk_p50_ms" -> Stats.median(queryMs.toSeq),
      "search.jobs_per_query" -> spanJobs("topk").size.toDouble / math.max(1, probes.size),
      "search.planning_ms" -> Stats.median(collects.map(s =>
        Seq("phase.analysis", "phase.optimization", "phase.planning").map(s.attrs.getOrElse(_, 0.0)).sum)),
      "search.exec_ms" -> p50("exec_ms"),
      "search.recall_at_10" -> recall)
  }
}
