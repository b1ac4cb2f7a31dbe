package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SkewOps

/** Scale-technique specs: salted aggregation equivalence, the
  * write-aside table swap, and bucketed co-located joins (shuffle-free
  * plan shape). */
class ScaleOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedAgg == direct aggregation on a hot-keyed table") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val direct = li.groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("q"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
      .as[(String, BigDecimal, Long)].collect().toSeq
    val salted = SkewOps.saltedAgg(li, Seq("l_returnflag"),
        saltBy = col("l_orderkey"), buckets = 8,
        aggs = Seq(
          ("q", (c: org.apache.spark.sql.Column) => sum(c.cast("decimal(18,2)")),
            (p: String) => sum(col(p))),
          ("n", (_: org.apache.spark.sql.Column) => count(lit(1)),
            (p: String) => sum(col(p)))),
        valueCol = "l_quantity")
      .orderBy("l_returnflag")
      .select(col("l_returnflag"), col("q").cast("decimal(18,2)"), col("n"))
      .as[(String, BigDecimal, Long)].collect().toSeq
    assert(salted == direct)
  }

  test("AtomicSwap: swapIn installs the rewrite, recover restores a table " +
       "parked at <path>.old; a file: URI behaves like the bare path") {
    import graft.util.AtomicSwap
    def rows(path: String) = spark.read.parquet(path).orderBy("id")
      .as[(Long, String)].collect().toSeq
    for (asUri <- Seq(false, true)) {
      val local = Files.createTempDirectory("swap").toString + "/log"
      val dir = if (asUri) "file://" + local else local
      val old = java.nio.file.Paths.get(local + ".old")
      Seq((1L, "old")).toDF("id", "v").write.parquet(dir)
      val tmp = dir + ".rewrite"
      Seq((1L, "new"), (2L, "new")).toDF("id", "v").write.parquet(tmp)
      AtomicSwap.swapIn(spark, tmp, dir)
      assert(rows(dir) == Seq((1L, "new"), (2L, "new")),
        s"$dir: the rewrite must be installed")
      assert(!Files.exists(java.nio.file.Paths.get(local + ".rewrite")) &&
        !Files.exists(old), s"$dir: neither the rewrite nor a park may remain")

      // crash-window recovery: a swap interrupted between park and
      // install leaves the table only at <dir>.old — recover() restores
      // it instead of leaving readers an empty table
      Files.move(java.nio.file.Paths.get(local), old)
      AtomicSwap.recover(spark, dir)
      assert(rows(dir) == Seq((1L, "new"), (2L, "new")),
        s"$dir: recover() must restore the parked table")
      assert(!Files.exists(old))
      AtomicSwap.recover(spark, dir) // idempotent: nothing parked
      assert(rows(dir) == Seq((1L, "new"), (2L, "new")))
    }
  }

  test("bucketed MERGE: catalog side never shuffles; view flip commits; counters correct") {
    val wh = Files.createTempDirectory("whmerge").toString
    val spark2 = spark
    import graft.merge.BucketedUpsert
    val template = Seq.empty[(Long, String, String, java.sql.Timestamp)]
      .toDF("id", "_type", "title", "created_at")
    BucketedUpsert.init(spark2, "movies_state", wh, template, nBuckets = 4)
    val now = lit("2026-08-12 00:00:00").cast("timestamp")
    def batch(ids: Seq[Long], tag: String) = ids
      .map(i => (i, "movie", s"$tag $i", java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
      .toDF("id", "_type", "title", "created_at")
    try {
      val c1 = BucketedUpsert.merge(spark2, "movies_state", wh,
        batch(1L to 10L, "v1"), None, now)
      assert(c1 == Map("insert" -> 10L))
      val c2 = BucketedUpsert.merge(spark2, "movies_state", wh,
        batch(6L to 15L, "v2"), None, now)
      assert(c2 == Map("insert" -> 5L, "update" -> 5L))
      val state = spark2.table("movies_state")
      assert(state.count() == 15)
      assert(state.filter($"id" === 7L).select("title").as[String].head() == "v2 7",
        "incoming wins on update")
      assert(state.filter($"id" === 3L).select("title").as[String].head() == "v1 3",
        "keep rows survive the version flip")

      // crash-window recovery: simulate dying between the view flip and
      // the old version's DROP — both versioned tables exist, the VIEW
      // (the commit) points at the newer one. currentVersion must follow
      // the view, not table existence, or the stale table wins.
      val staleV = if (spark2.catalog.tableExists("movies_state_v0")) 1 else 0
      template.limit(0).write.mode("overwrite")
        .bucketBy(4, "id", "_type").sortBy("id", "_type")
        .option("path", s"$wh/movies_state_v$staleV")
        .saveAsTable(s"movies_state_v$staleV")
      val c3 = BucketedUpsert.merge(spark2, "movies_state", wh,
        batch(1L to 3L, "v3"), None, now)
      assert(c3 == Map("update" -> 3L),
        "merge must read the COMMITTED version, not the stale leftover")
      assert(spark2.table("movies_state").count() == 15)

      // plan shape: with broadcast off, the merge join must shuffle ONLY
      // the incoming side — the bucketed catalog scan is pre-partitioned
      val prev = spark2.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val curName = if (spark2.catalog.tableExists("movies_state_v0"))
          "movies_state_v0" else "movies_state_v1"
        val existing = spark2.table(curName)
        val merged = graft.merge.Upsert.mergeWithAction(
          existing, batch(1L to 5L, "probe"))
        val plan = merged.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"))
        val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
        assert(exchanges == 1, s"only the incoming batch may shuffle:\n$plan")
      } finally spark2.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark2.sql("DROP VIEW IF EXISTS movies_state")
      spark2.sql("DROP TABLE IF EXISTS movies_state_v0")
      spark2.sql("DROP TABLE IF EXISTS movies_state_v1")
    }
  }

  test("dedupCorpus and boilerplate removal: identical results on the shuffled (non-broadcast) path") {
    // the drop-list/boilerplate-set anti joins carry NO broadcast hint —
    // at 100 TB those sets are corpus-order and a forced broadcast OOMs.
    // With broadcasts disabled entirely, the shuffled left_anti fallback
    // must produce byte-identical results (AQE merely picks the cheaper
    // physical join when the set happens to be small).
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    import graft.datax.{Curation, Dedup}
    def run(): (Seq[Long], Seq[(Long, Long, Long)]) = {
      val kept = Dedup.dedupCorpus(docs, "doc_id", "text", bands = 8,
          threshold = 0.4)
        .select("doc_id").as[Long].collect().sorted.toSeq
      val bp = Curation.boilerplateChunks(docs, "doc_id", "text",
          chunkTokens = 3, minDocs = 2)
        .select("doc_id", "n_chunks", "n_kept")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      (kept, bp)
    }
    val broadcastOn = run()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val shuffled = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      run()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(shuffled == broadcastOn,
      "shuffled anti-join path must agree with the broadcast path")
    assert(broadcastOn._1.nonEmpty && broadcastOn._2.nonEmpty)
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    // external-table paths: warehouse.dir is static config, but bucketed
    // metadata only needs the catalog entry, not the warehouse location
    val wh = Files.createTempDirectory("wh").toString
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val customer = Tables.load(spark, "/root/testdata/sf0.001", "customer")
    orders.write.mode("overwrite")
      .bucketBy(4, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    customer.write.mode("overwrite")
      .bucketBy(4, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/customer_b").saveAsTable("customer_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("orders_b").join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() ==
        orders.join(customer, col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }
}
