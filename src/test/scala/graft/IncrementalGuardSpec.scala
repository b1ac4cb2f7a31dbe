package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.datax.Dedup

/** Round-15 pins for the batch x index LSH load tripwire — the
  * two-sided twin of the round-13/14 same-side occupancy guard. The
  * guarded quantity is the per-bucket PRODUCT of the two occupancies
  * (the exact join SCALE.md measured at 61x wall for 3x data on d10c's
  * fixed-parameter shape); the default bound (2^20 pairs/bucket)
  * matches the candidate load of the same-side family's
  * maxOccupancy=Some(1024). */
class IncrementalGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8
  private def identicalVecs(ids: Range) = {
    val v = Array.tabulate(dim)(j => 0.1f * (j + 1))
    ids.map(i => (i.toLong, v)).toDF("vec_id", "embedding")
  }
  private def chain(ex: Throwable): String =
    Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")

  test("vector batch x index: the DEFAULT bound trips on a hot bucket before pair expansion") {
    // all identical -> one bucket per table; 1100 batch x 1000 index =
    // 1.1M products > the 2^20 default. The raise rides the array the
    // expansion must read, so it fires BEFORE 1.1M pairs materialize.
    val batch = identicalVecs(1 to 1100)
    val index = identicalVecs(2001 to 3000)
    val ex = intercept[Throwable] {
      Dedup.embeddingNearDupsIncremental(batch, index, "vec_id", "embedding",
        tables = 2, planesPerTable = 2, threshold = 0.9).count()
    }
    val c = chain(ex)
    assert(c.contains("hot LSH bucket (batch x index)"),
      s"expected the cross-side tripwire, got:\n$c")
    assert(c.contains("maxBucketLoad=None") && c.contains("IncrementalAuto"),
      "the error must name the opt-out AND the derived-parameter fix")
  }

  test("vector batch x index: caller bound honored; opt-out exact; prebanded twin guarded too") {
    val batch = identicalVecs(1 to 30)
    val index = identicalVecs(2001 to 2040)
    // caller-supplied bound below the 30 x 40 = 1200 product
    val ex = intercept[Throwable] {
      Dedup.embeddingNearDupsIncremental(batch, index, "vec_id", "embedding",
        tables = 2, planesPerTable = 2, threshold = 0.9,
        maxBucketLoad = Some(1000L)).count()
    }
    assert(chain(ex).contains("hot LSH bucket (batch x index)"),
      s"custom bound ignored:\n${chain(ex)}")
    // explicit opt-out: quadratic cost accepted, answer exact (every
    // batch id pairs with every index id — identical vectors)
    val pairs = Dedup.embeddingNearDupsIncremental(batch, index,
      "vec_id", "embedding", tables = 2, planesPerTable = 2,
      threshold = 0.9, maxBucketLoad = None)
    assert(pairs.count() == 30L * 40, "opt-out path must still be exact")
    // the PREBANDED form routes through the same guard
    val sidecar = Dedup.embeddingBandSignatures(index, "vec_id", "embedding",
      tables = 2, planesPerTable = 2)
    val ex2 = intercept[Throwable] {
      Dedup.embeddingNearDupsIncremental(batch, index,
        "vec_id", "embedding", tables = 2, planesPerTable = 2,
        threshold = 0.9, maxBucketLoad = Some(1000L),
        indexBands = Some(sidecar)).count()
    }
    assert(chain(ex2).contains("hot LSH bucket (batch x index)"),
      s"prebanded form must carry the guard too:\n${chain(ex2)}")
    val pre = Dedup.embeddingNearDupsIncremental(batch, index,
        "vec_id", "embedding", tables = 2, planesPerTable = 2,
        threshold = 0.9, maxBucketLoad = None, indexBands = Some(sidecar))
      .orderBy("id_a", "id_b").collect().toSeq
    assert(pre == pairs.orderBy("id_a", "id_b").collect().toSeq,
      "opted-out prebanded == opted-out direct")
  }

  test("text batch x index: incrementalNearDups and the prebanded twin carry the guard") {
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val batch = (1L to 5L).map(i => (i, txt)).toDF("doc_id", "text")
    val index = (101L to 105L).map(i => (i, txt)).toDF("doc_id", "text")
    val ex = intercept[Throwable] {
      Dedup.incrementalNearDups(batch, index, "doc_id", "text",
        maxBucketLoad = Some(20L)).count()
    }
    assert(chain(ex).contains("hot LSH bucket (batch x index)"),
      s"text twin unguarded:\n${chain(ex)}")
    val sidecar = Dedup.bandSignatures(index, "doc_id", "text")
    val ex2 = intercept[Throwable] {
      Dedup.incrementalNearDups(batch, index, "doc_id",
        "text", maxBucketLoad = Some(20L), indexBands = Some(sidecar)).count()
    }
    assert(chain(ex2).contains("hot LSH bucket (batch x index)"),
      s"text prebanded twin unguarded:\n${chain(ex2)}")
    // opt-out exactness: 5 x 5 identical docs = 25 jaccard-1.0 pairs,
    // on BOTH forms (and the default bound never trips honest data)
    val direct = Dedup.incrementalNearDups(batch, index, "doc_id", "text",
        maxBucketLoad = None)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(direct.size == 25, s"opt-out must be exact, got ${direct.size}")
    assert(Dedup.incrementalNearDups(batch, index, "doc_id", "text")
      .orderBy("id_a", "id_b").collect().toSeq == direct,
      "the default bound must not change values on cool data")
    // dedupIncrement threads the bound through to the cross join
    val ex3 = intercept[Throwable] {
      Dedup.dedupIncrement(batch, index, "doc_id", "text",
        maxBucketLoad = Some(20L)).count()
    }
    assert(chain(ex3).contains("hot LSH bucket (batch x index)"),
      s"dedupIncrement must thread the bound:\n${chain(ex3)}")
  }

  test("opted-out batch x index emits deterministic graft.lsh.occupancy.inc_embedding telemetry") {
    val batch = identicalVecs(1 to 30)
    val index = identicalVecs(2001 to 2040)
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
      val n = Dedup.embeddingNearDupsIncremental(batch, index, "vec_id",
        "embedding", tables = 2, planesPerTable = 2, threshold = 0.9,
        maxBucketLoad = None).count()
      assert(n == 30L * 40)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var row: Option[Row] = None
      while (row.isEmpty && System.nanoTime() < deadline) {
        // EXACT name, not a prefix: the round-15 contract is that a
        // metrics pipeline can key on the tag-derived name
        row = metrics.get("graft.lsh.occupancy.inc_embedding")
        if (row.isEmpty) Thread.sleep(50)
      }
      assert(row.nonEmpty,
        s"no graft.lsh.occupancy.inc_embedding metric; saw: ${metrics.keys}")
      assert(row.get.getAs[Long]("max_bucket_load") == 30L * 40,
        s"expected max product 1200, got ${row.get}")
      assert(row.get.getAs[Long]("buckets") == 2L, // one hot bucket per table
        s"expected 2 colliding buckets, got ${row.get}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("embeddingNearDupsIncrementalAuto == explicit form at bandsFor(index size)") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val batch = emb.filter($"vec_id" % 10 === 0)
    val index = emb.filter($"vec_id" % 10 =!= 0)
    val (tables, r) = Dedup.bandsFor(index.count(), 0.4)
    val auto = Dedup.embeddingNearDupsIncrementalAuto(batch, index,
        "vec_id", "embedding", threshold = 0.4)
      .orderBy("id_a", "id_b").collect().toSeq
    val explicit = Dedup.embeddingNearDupsIncremental(batch, index,
        "vec_id", "embedding", tables, r, threshold = 0.4,
        maxBucketLoad = None)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(auto == explicit,
      s"auto must equal the explicit form at the derived ($tables, $r)")
  }

  test("the streaming face threads maxBucketLoad to the cross-index join") {
    val root = java.nio.file.Files.createTempDirectory("graft-guard-stream").toString
    try {
      val txt = "the quick brown fox jumps over the lazy dog again and again"
      val batch0 = Seq((1L, txt, "en")).toDF("doc_id", "text", "lang")
      graft.streaming.DedupStream.processBatch(batch0, 0L, root,
        "doc_id", "text", maxBucketLoad = Some(20L))
      // 25 batch copies x 1 index doc = 25 per-bucket products > 20
      val batch1 = (101L to 125L).map(i => (i, txt, "en"))
        .toDF("doc_id", "text", "lang")
      val ex = intercept[Throwable] {
        graft.streaming.DedupStream.processBatch(batch1, 1L, root,
          "doc_id", "text", maxBucketLoad = Some(20L))
      }
      assert(chain(ex).contains("hot LSH bucket (batch x index)"),
        s"streaming face must thread the bound:\n${chain(ex)}")
      // and with the default bound the same batch lands normally: one
      // survivor (all 25 are dups of each other AND of the index doc ->
      // zero accepted; the index keeps only batch 0's doc)
      graft.streaming.DedupStream.processBatch(batch1, 1L, root,
        "doc_id", "text")
      val docs = spark.read.parquet(s"$root/docs")
      assert(docs.count() == 1L,
        "all 25 redelivered dups must collapse against the index")
    } finally {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("the vector streaming face threads maxBucketLoad to the cross-index join") {
    import graft.streaming.EmbedStream
    val root = java.nio.file.Files.createTempDirectory("graft-guard-embed").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    try {
      // mutually far-apart vectors (cosine < 0.5) that all fall in the
      // one bucket of a (1 table x 1 plane) geometry: the index holds
      // 10 of them, batch 1 three more — within-batch occupancy 3
      // passes the derived sqrt(20) = 4 bound, the cross product
      // 3 x 10 = 30 exceeds maxBucketLoad = 20
      val plane = Dedup.planeSignsSeeded(0, 1, dim).head
      val rnd = new scala.util.Random(7)
      def cos(a: Array[Float], b: Array[Float]) = {
        def d(x: Array[Float], y: Array[Float]) =
          x.zip(y).map { case (p, q) => p.toDouble * q }.sum
        d(a, b) / math.sqrt(d(a, a) * d(b, b))
      }
      val picked = Iterator.continually(Array.fill(dim)(rnd.nextGaussian().toFloat))
        .filter(v => v.zip(plane).map { case (x, p) => x * p }.sum > 0.1)
        .scanLeft(Vector.empty[Array[Float]]) { (acc, v) =>
          if (acc.forall(cos(_, v) < 0.5)) acc :+ v else acc }
        .dropWhile(_.size < 13).next()
      def frame(ids: Seq[Long], vs: Seq[Array[Float]]) =
        ids.zip(vs).toDF("vec_id", "embedding")
      val serving = s"$root/serving"
      val index = s"$root/index"
      EmbedStream.processBatch(frame(1L to 10L, picked.take(10)), 0L, index,
        "vec_id", "embedding", tables = 1, planesPerTable = 1)
      graft.datax.Similarity.ivfIndexWrite(
        spark.read.parquet(s"$index/vecs"), serving, nCentroids = 2)
      val batch1 = frame(101L to 103L, picked.drop(10))
      def landed = Seq(s"$index/vecs/batch=1", s"$index/bands/batch=1",
          s"$serving/assigned_inc.parquet/batch=1")
        .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
      val ex = intercept[Throwable] {
        EmbedStream.processBatch(batch1, 1L, index, "vec_id", "embedding",
          tables = 1, planesPerTable = 1, maxBucketLoad = Some(20L),
          servingDir = Some(serving))
      }
      assert(chain(ex).contains("hot LSH bucket (batch x index)"),
        s"the vector streaming face must thread the bound:\n${chain(ex)}")
      assert(landed.isEmpty, s"the raise must fire before any commit: $landed")
      // with the default bound the same batch lands: all three survive
      // (none is within cosine 0.9 of the index or of each other)
      EmbedStream.processBatch(batch1, 1L, index, "vec_id", "embedding",
        tables = 1, planesPerTable = 1, servingDir = Some(serving))
      assert(landed.size == 3, s"got $landed")
      assert(spark.read.parquet(s"$index/vecs/batch=1").count() == 3L)
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
    }
  }

  test("embedding sidecar without a params column is rejected (dim is part of the bucket contract)") {
    val batch = identicalVecs(1 to 3)
    val index = identicalVecs(11 to 14)
    val bare = Dedup.embeddingBandSignatures(index, "vec_id", "embedding",
      tables = 2, planesPerTable = 2).drop("params")
    val ex = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupsIncremental(batch, index,
        "vec_id", "embedding", tables = 2, planesPerTable = 2,
        threshold = 0.9, indexBands = Some(bare))
    }
    assert(ex.getMessage.contains("params"),
      s"must demand the params column: ${ex.getMessage}")
    // the ingest loop's data-path check applies the same rule to a
    // STORED sidecar that lost its params column
    val root = java.nio.file.Files.createTempDirectory("graft-bare-sidecar").toString
    try {
      graft.streaming.EmbedStream.processBatch(index, 0L, root, "vec_id",
        "embedding", tables = 2, planesPerTable = 2)
      val part = s"$root/bands/batch=0"
      val stripped = spark.read.parquet(part).drop("params")
      spark.createDataFrame(java.util.Arrays.asList(stripped.collect(): _*),
          stripped.schema)
        .write.mode("overwrite").parquet(part)
      val ex2 = intercept[IllegalArgumentException] {
        graft.streaming.EmbedStream.processBatch(batch, 1L, root, "vec_id",
          "embedding", tables = 2, planesPerTable = 2)
      }
      assert(ex2.getMessage.contains("params"),
        s"the drive must demand the params column too: ${ex2.getMessage}")
    } finally {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }
}
