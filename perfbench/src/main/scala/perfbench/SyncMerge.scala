package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.ingest.SyncJob

/** The write side of catalog_sync: repeated resumable top-votes syncs
  * (`SyncJob.run`) over a discover feed read through the `tmdb-pages`
  * source, merged into a seeded movies state. One client, one batch at a
  * time. */
final class SyncMerge(val ctx: Ctx) extends Workload {
  import ctx._

  private val stateRows = if (tiny) 2000 else 20000
  private val pageSize = 20
  private val nPages = if (tiny) 2 else 5
  /** Measured batches, after the warm-up one. */
  private val measuredBatches = 3
  private val maxBatches = 1 + measuredBatches
  private val nullShare = 0.03
  private val cursorKey = "top_vote_count_movie"
  private val feed = Gen.feed(seed, maxBatches * nPages * pageSize, stateRows, nullShare)

  private var dir: String = _
  private def state = s"$dir/state"
  private def cursors = s"$dir/cursors"
  private def dead = s"$dir/dead"

  private var base: DataFrame = _
  private var details: DataFrame = _
  private var ruTitles: DataFrame = _
  private var frames: DataFrame = _
  private var template: DataFrame = _

  /** Columns the details lookup carries: every state column the feed,
    * the RU-title and frames lookups do not. The derived and
    * merge-maintained ones are null placeholders the merge recomputes. */
  private val feedCols = Set("id", "_type", "title", "vote_count", "popularity", "title_ru", "frames")
  private val detailFields = Gen.MovieSchema.fields.filter(f => f.name == "id" || !feedCols(f.name))

  override def generate(d: String): Unit = {
    dir = d
    batches.clear()
    val s = seed
    val n = stateRows.toLong
    val rdd = spark.sparkContext.range(1L, n + 1L, 1L, 4).map(id => Gen.movieRow(Gen.movie(s, id)))
    spark.createDataFrame(rdd, Gen.MovieSchema).write.parquet(state)
    new File(s"$dir/pages").mkdirs()
    feed.grouped(pageSize).zipWithIndex.foreach { case (items, p) =>
      val w = new PrintWriter(s"$dir/pages/page-${p + 1}.json", "UTF-8")
      try items.foreach(it => w.println(Gen.feedJson(it))) finally w.close()
    }
    // lookups carry the fetched (fresh) version of every fed movie
    val ids = feed.flatMap(_.id)
    val fresh = ids.map(id => Gen.movieRow(Gen.movie(s + 1, id)))
    val schema = Gen.MovieSchema
    val lookups = spark.createDataFrame(spark.sparkContext.parallelize(fresh, 4), schema)
    val placeholders = Set("country_codes", "is_animated", "year", "incorrect_frames",
      "backdrop_path", "synced_at", "last_popularity_sync_at", "last_vote_count_sync_at")
    lookups.select(detailFields.toSeq.map(f =>
        if (placeholders(f.name)) lit(null).cast(f.dataType).as(f.name) else col(f.name)): _*)
      .write.parquet(s"$dir/details")
    lookups.filter(col("title_ru").isNotNull).select("id", "title_ru").write.parquet(s"$dir/ru")
    lookups.select("id", "frames").write.parquet(s"$dir/frames")
    base = spark.read.format("tmdb-pages").option("path", s"$dir/pages").load()
      .withColumn("_type", lit("movie"))
    details = spark.read.parquet(s"$dir/details")
    ruTitles = spark.read.parquet(s"$dir/ru")
    frames = spark.read.parquet(s"$dir/frames")
    template = spark.read.parquet(state).limit(0)
  }

  /** One batch of the same sync; the measured batches resume after it. */
  override def warm(): Unit = batch()

  // ---- the loop -----------------------------------------------------------

  private final case class Batch(report: SyncJob.Report, seconds: Double, measured: Boolean)
  private val batches = ArrayBuffer[Batch]()
  private var wall = 0.0

  private def batch(): Unit = {
    val k = batches.size
    op(s"sync batch $k") {
      tracer.span("sync.run", "ingest") {
        val t0 = System.nanoTime()
        val r = SyncJob.run(spark, base, details, ruTitles, template, state, cursors, dead,
          cursorKey = cursorKey, orderBy = Seq(col("vote_count").desc, col("id").asc),
          pageSize = pageSize, nPages = nPages, frames = Some(frames))
        val sec = Sys.secondsSince(t0)
        System.err.println(f"[perfbench] sync batch $k%d: $sec%.2f s $r")
        tracer.note("build_ms", sec * 1000)
        tracer.note("exec_ms", 0.0)
        batches += Batch(r, sec, tracer.phase == "measure")
        // the window is pages k*nPages+1 .. (k+1)*nPages of the feed
        val window = feed.slice(k * nPages * pageSize, (k + 1) * nPages * pageSize)
        r.attempted == window.size && r.lastPage == (k + 1) * nPages &&
          r.deadLettered == window.count(_.id.isEmpty) &&
          r.inserted == window.count(it => it.id.nonEmpty && !it.existing) &&
          r.updated == window.count(_.existing)
      }
    }
  }

  /** A fixed number of batches: the feed window, and so the work, is the
    * same in every run. No further batch once one failed (the cursor no
    * longer matches the feed). */
  override def measure(): Unit = {
    val t0 = System.nanoTime()
    while (batches.size < maxBatches && failed == 0) batch()
    wall = Sys.secondsSince(t0)
  }

  override def check(): Unit = {
    val k = batches.size
    val inserted = batches.map(_.report.inserted).sum
    val walked = feed.take(k * nPages * pageSize)
    op("final state rows") { spark.read.parquet(state).count() == stateRows + inserted }
    op("cursor page") { SyncJob.CursorStore.get(spark, cursors, cursorKey).exists(_.page == k * nPages) }
    op("dead letters") {
      val want = walked.count(_.id.isEmpty)
      (want == 0 && !new File(dead).exists()) || spark.read.parquet(dead).count() == want
    }
  }

  // ---- metrics --------------------------------------------------------------

  private def measured = batches.filter(_.measured)

  override def wallSeconds: Double = wall

  private def itemsPerS = measured.map(_.report.attempted).sum / math.max(wall, 1e-9)

  override def e2e: Map[String, Double] = Map("write_items_per_s" -> itemsPerS)

  /** Job time by call site, through a fixed table: the first matching
    * rule names the metric. Rules match the first program frame of the
    * job's call stack and the action that launched it. */
  private val SiteRules: Seq[(String, (String, String) => Boolean)] = Seq(
    "ingest.cursor_ms" -> ((frame, _) => frame.contains("SyncJob$CursorStore$")),
    "ingest.dead_letter_ms" -> ((frame, _) => frame.contains("SyncJob$.deadLetter")),
    "ingest.page_window_ms" -> ((frame, site) => frame.contains("SyncJob$.run") && site.startsWith("count at")),
    "merge.state_read_ms" -> ((frame, _) => frame.contains("SyncJob$.readState")),
    "merge.write_ms" -> ((frame, site) => frame.contains("SyncJob$.run") && site.startsWith("parquet at")))

  override def layer: Map[String, Double] = {
    val b = math.max(1, measured.size).toDouble
    val attempted = measured.map(_.report.attempted).sum.toDouble
    val js = tracer.jobsOf(tracer.measuredOps.filter(_.name == "sync.run").map(_.id).toSet)
    val bySite = js.groupBy { j =>
      val frame = j.stack.linesIterator.find(_.trim.startsWith("graft.")).getOrElse("")
      SiteRules.find(_._2(frame.trim, j.site)).map(_._1).getOrElse("ingest.unmapped_ms")
    }.map { case (m, jobs) => m -> jobs.map(j => (j.end - j.start).toDouble).sum / b }
    Map(
      "sync.items_per_s" -> itemsPerS,
      "sync.batch_p50_s" -> Stats.median(measured.map(_.seconds).toSeq),
      "ingest.jobs_per_batch" -> js.size / b,
      "sources.scan_tasks_per_batch" -> tracer.pageScanTasks.getOrDefault("measure", 0L) / b,
      "sources.giveup_pages" -> tracer.pageGiveUps.toDouble,
      "merge.useful_ratio" -> measured.map(m => m.report.inserted + m.report.updated).sum / math.max(1.0, attempted),
      "ingest.dead_letter_ratio" -> measured.map(_.report.deadLettered).sum / math.max(1.0, attempted),
      "merge.state_rows" -> (stateRows + batches.map(_.report.inserted).sum).toDouble) ++
      SiteRules.map(_._1).appended("ingest.unmapped_ms").map(m => m -> bySite.getOrElse(m, 0.0))
  }
}
