package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** DataSourceV2 paged-feed source: partition-per-page planning, cursor
  * window options, limit pushdown, malformed-field null handling. */
class PagedSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeFeed(pages: Int, perPage: Int): String = {
    val dir = Files.createTempDirectory("feed").toString
    var id = 0
    for (p <- 1 to pages) {
      val lines = (1 to perPage).map { _ =>
        id += 1
        if (id == 7) """{"title": "no id at all"}""" // poisoned record
        else s"""{"id": $id, "title": "Movie $id", "vote_count": ${1000 - id}, "popularity": ${id / 10.0}}"""
      }
      Files.write(Paths.get(dir, s"page-$p.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    dir
  }

  test("reads all pages with page provenance; one partition per page") {
    val dir = writeFeed(pages = 5, perPage = 4)
    val df = spark.read.format("tmdb-pages").option("path", dir).load()
    assert(df.count() == 20)
    assert(df.select("_page").distinct().as[Int].collect().sorted.toSeq == (1 to 5))
    assert(df.rdd.getNumPartitions == 5)
    // poisoned record surfaces as null id (dead-letter filter's input)
    assert(df.filter($"id".isNull).select("title").as[String].head() == "no id at all")
  }

  test("cursor window: startPage/maxPages read only the resumable slice") {
    val dir = writeFeed(pages = 5, perPage = 4)
    val df = spark.read.format("tmdb-pages").option("path", dir)
      .option("startPage", 3).option("maxPages", 2).load()
    assert(df.select("_page").distinct().as[Int].collect().sorted.toSeq == Seq(3, 4))
  }

  test("limit pushdown plans only ceil(n/pageSize) pages") {
    val dir = writeFeed(pages = 5, perPage = 4)
    val df = spark.read.format("tmdb-pages").option("path", dir)
      .option("pageSize", 4).load().limit(6)
    assert(df.count() == 6)
    val planned = df.queryExecution.executedPlan.toString
    assert(planned.contains("limitPages=2"), s"scan description missing page cap:\n$planned")
  }

  test("limitPushdown=false plans the full window: a SHORT mid-stream page " +
       "tops up from later pages (outside the full-pages contract)") {
    // page 2 is SHORT (2 of 4 rows): under the prune, LIMIT 8 plans
    // pages 1-2 and returns 6 rows; with the prune off, GlobalLimit
    // tops up from page 3 — the reference-loop semantics for page dirs
    // that do not honor the fixed-size contract (review finding,
    // adjudicated: the reference itself breaks outright on failed or
    // EMPTY pages, so the prune's contract only differs on short
    // NON-empty pages, which the discover feed never produces)
    val dir = Files.createTempDirectory("shortfeed").toString
    var id = 0
    for (p <- 1 to 3) {
      val n = if (p == 2) 2 else 4
      val lines = (1 to n).map { _ =>
        id += 1
        s"""{"id": $id, "title": "M$id", "vote_count": ${100 - id}, "popularity": 1.0}"""
      }
      Files.write(Paths.get(dir, s"page-$p.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    val pruned = spark.read.format("tmdb-pages").option("path", dir)
      .option("pageSize", 4).load().limit(8)
    assert(pruned.count() == 6, "the documented under-delivery under the prune")
    val full = spark.read.format("tmdb-pages").option("path", dir)
      .option("pageSize", 4).option("limitPushdown", "false").load().limit(8)
    assert(full.count() == 8, "prune off: GlobalLimit tops up from page 3")
  }

  test("stray files matching page-*.json with a non-numeric infix are " +
       "IGNORED, never fatal (bad-page contract)") {
    val dir = writeFeed(pages = 2, perPage = 4)
    Files.write(Paths.get(dir, "page-.json"), "junk".getBytes("UTF-8"))
    Files.write(Paths.get(dir, "page-2 (copy).json"), "junk".getBytes("UTF-8"))
    Files.write(Paths.get(dir, "page-3000000000.json"), "junk".getBytes("UTF-8"))
    assert(graft.sources.PagedSource.pageFiles(dir).map(_._1) == Seq(1, 2),
      "only numeric in-range page files are planned")
    val df = spark.read.format("tmdb-pages").option("path", dir).load()
    assert(df.count() == 8, "the scan ignores the strays instead of throwing")
  }
  test("give-up counts reach the SQL status store (one zero-arg metric class per kind)") {
    // the status listener re-creates each custom metric from its class
    // name to sum the task values; a metric it cannot construct never
    // reaches executionMetrics
    import graft.sources.Retry
    val dir = writeFeed(pages = 2, perPage = 4)
    val store = spark.sharedState.statusStore
    val before = store.executionsList().map(_.executionId).toSet
    try {
      Retry.Faults.failNext(s"$dir/page-2.json", times = 99,
        new java.io.IOException("hard down"))
      val df = spark.read.format("tmdb-pages").option("path", dir)
        .option("backoffMillis", 0).option("maxAttempts", 2).load()
      assert(df.collect().length == 4, "the exhausted page degrades to empty")
    } finally Retry.Faults.clear()
    def giveUps(): Map[String, String] = store.executionsList()
      .filterNot(e => before(e.executionId))
      .flatMap { e =>
        val values = store.executionMetrics(e.executionId)
        e.metrics.filter(_.metricType.contains("PagedSource$GiveUp"))
          .flatMap(m => values.get(m.accumulatorId).map(m.name -> _))
      }.toMap
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (giveUps().size < 3 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(giveUps() == Map("pages given up (network errors)" -> "1",
      "pages given up (http errors)" -> "0",
      "pages given up (other errors)" -> "0"), s"got ${giveUps()}")
  }
}
