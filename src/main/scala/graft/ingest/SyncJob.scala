package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.merge.Upsert

/** The reference's incremental sync mechanics (SURVEY.md §2.10 ST1-ST3,
  * §3.2) re-expressed as batch composition:
  *
  *  - ST1 resumable cursors: an append-only commit log, last-write-wins
  *    per key — the batch analogue of a streaming checkpoint;
  *  - ST2 idempotent upsert: at-least-once page fetch + exactly-once
  *    effect via [[graft.merge.Upsert.mergeMovies]];
  *  - ST3 dead-letter: malformed records are appended to an error sink
  *    and processing continues.
  *
  * The reference fetches pages sequentially over HTTP (~4 round-trips per
  * item); here a page range becomes ONE data-parallel batch — per-page
  * network latency is the reference's bottleneck, partitioned scan +
  * broadcast enrichment is ours. Cursor granularity moves from per-page
  * to per-batch, which preserves the observable contract (final table
  * state + counters) while cutting checkpoint writes by the batch size.
  */
object SyncJob {

  final case class Cursor(key: String, page: Int, inserted: Long, updated: Long)
  final case class Report(key: String, attempted: Long, deadLettered: Long,
      inserted: Long, updated: Long, lastPage: Int)

  // ---------------------------------------------------------------
  // ST1 — cursor commit log (S13): append-only, latest row wins.
  // ---------------------------------------------------------------

  object CursorStore {
    private val schema = "key string, page int, inserted bigint, updated bigint, ts timestamp"

    /** Latest cursor per key (max ts, then max page as tiebreak). */
    def latest(spark: SparkSession, path: String): DataFrame = {
      val raw =
        if (exists(spark, path)) spark.read.schema(schema).parquet(path)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(schema))
      raw.groupBy("key")
        .agg(max_by(struct(col("page"), col("inserted"), col("updated")),
          struct(col("ts"), col("page"))).as("_c"))
        .select(col("key"), col("_c.page").as("page"),
          col("_c.inserted").as("inserted"), col("_c.updated").as("updated"))
    }

    def get(spark: SparkSession, path: String, key: String): Option[Cursor] =
      latest(spark, path).filter(col("key") === key).collect().headOption
        .map(r => Cursor(r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))

    /** Append one checkpoint row (reference saves after each page; we
      * save after each batch). */
    def save(spark: SparkSession, path: String, c: Cursor): Unit = {
      import spark.implicits._
      Seq((c.key, c.page, c.inserted, c.updated))
        .toDF("key", "page", "inserted", "updated")
        .withColumn("ts", current_timestamp())
        .write.mode(SaveMode.Append).parquet(path)
    }
  }

  // ---------------------------------------------------------------
  // Fixture-paged source (S5/S8/S9 shape): deterministic pages over a
  // base table — the offline stand-in for the paginated HTTP discover.
  // ---------------------------------------------------------------

  /** Assign 1-based page numbers in `orderBy` order and keep pages
    * [fromPage, fromPage+nPages). The global sort models the SERVER-side
    * sort_by param of the discover API (source-level pushdown: at scale
    * the source hands out page-ranged partitions; nothing downstream
    * re-sorts). */
  def pages(base: DataFrame, orderBy: Seq[Column], pageSize: Int,
            fromPage: Int, nPages: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(orderBy: _*)
    // _rn (the global feed position) is kept: it is the "sequential
    // upsert order" key for last-write-wins dedup inside a batch
    base
      .withColumn("_rn", row_number().over(w))
      .withColumn("_page", ((col("_rn") - 1) / pageSize + 1).cast("int"))
      .filter(col("_page") >= fromPage && col("_page") < fromPage + nPages)
  }

  // ---------------------------------------------------------------
  // ST3 — dead-letter sink (S12): append, never fail the batch.
  // ---------------------------------------------------------------

  def deadLetter(errors: DataFrame, path: String, endpoint: String): Long = {
    val n = errors.count()
    if (n > 0)
      errors.withColumn("endpoint", lit(endpoint))
        .withColumn("timestamp", current_timestamp())
        .write.mode(SaveMode.Append).parquet(path)
    n
  }

  // ---------------------------------------------------------------
  // The sync round (§3.2): resume -> pages -> enrich -> merge -> save.
  // ---------------------------------------------------------------

  /** One sync batch over `nPages` pages. The window starts at an
    * explicit `startPage` when one is given (it overrides the cursor —
    * sync_top.py:134); otherwise after the stored cursor when
    * `resume=true`, else at page 1.
    *
    * `base` models the discover feed (must contain the state's columns
    * minus enrichment outputs); rows with null `id` dead-letter (P14).
    * `details` (id -> production fields) inner-joins (JN1, skip-if-
    * missing); `ruTitles` (id -> title_ru) left-joins (JN2). Both are
    * broadcast — they are per-page lookups in the reference.
    *
    * `frames` (id -> frames array) left-joins when given (JN3);
    * `requireFrames=true` is the sync_category variant that SKIPS items
    * whose frames lookup came back empty (reference: app/sync.py:125-130
    * `if not frames: continue`), while sync_top/sync_years keep them.
    */
  def run(spark: SparkSession,
          base: DataFrame,
          details: DataFrame,
          ruTitles: DataFrame,
          stateTemplate: DataFrame,
          statePath: String,
          cursorPath: String,
          deadLetterPath: String,
          cursorKey: String,
          orderBy: Seq[Column],
          pageSize: Int = 20,
          nPages: Int = 2,
          resume: Boolean = true,
          startPage: Option[Int] = None,
          sortBy: Option[String] = Some("vote_count.desc"),
          frames: Option[DataFrame] = None,
          requireFrames: Boolean = false,
          maxPage: Option[Int] = None): Report = {

    // the reference loads the cursor unconditionally: an EXPLICIT
    // start_page takes priority over the resume position
    // (sync_top.py:134 `start_page or (cur["page"]+1 if resume else 1)`),
    // but the stored inserted/updated totals still accumulate
    // (sync_top.py:266-271). `or` is Python TRUTHINESS: start_page=0 is
    // falsy and falls through to the cursor/1 — so Some(0) must not be
    // taken as a literal window start (review finding; same fidelity
    // rule as the year-0 guard in CatalogQueries)
    val prior = CursorStore.get(spark, cursorPath, cursorKey)
    val from = startPage.filter(_ != 0).getOrElse(
      if (resume) prior.map(_.page + 1).getOrElse(1) else 1)

    // `maxPage` is an ABSOLUTE page-number ceiling (the reference's
    // `while page <= MAX_PAGES` loop guard, sync_years.py:15,184) —
    // NOT a count: a resumed cursor near the ceiling processes only
    // the pages up to it, and a cursor AT/BEYOND it processes none
    // (loop guard false on entry: cursor and totals untouched). The
    // review finding: capping the COUNT let resumed runs walk pages
    // the reference never fetches.
    val effPages = maxPage match {
      case Some(m) => math.max(0, math.min(nPages, m - from + 1))
      case None    => nPages
    }
    if (effPages == 0)
      return Report(cursorKey, 0L, 0L, 0L, 0L, prior.map(_.page).getOrElse(from - 1))

    val pageBatch = pages(base, orderBy, pageSize, from, effPages).cache()
    try {
      val attempted = pageBatch.count()
      val lastPage = from + effPages - 1

      // P14 / ST3: null-id rows are poisoned records -> dead-letter
      val bad = pageBatch.filter(col("id").isNull)
      val deadLettered = deadLetter(
        bad.withColumn("error", lit("missing id")), deadLetterPath, cursorKey)
      val good = pageBatch.filter(col("id").isNotNull)

      // JN1 (inner: skip-if-missing details) + JN2 (left: null allowed)
      val enriched0 = good
        .join(broadcast(details), Seq("id"), "inner")
        .join(broadcast(ruTitles), Seq("id"), "left_outer")
      // JN3: frames lookup; the category sync drops frameless items
      val enriched = frames match {
        case Some(f) =>
          val joined = enriched0.join(broadcast(f), Seq("id"), "left_outer")
          if (requireFrames)
            joined.filter(col("frames").isNotNull && size(col("frames")) > 0)
          else joined
        case None => enriched0
      }

      // the reference applies upserts sequentially, so a movie seen
      // twice in one batch resolves LAST-write-wins; the batch merge
      // makes that explicit — dedup by key keeping the max feed
      // position (_rn orders WITHIN a page too, where _page would tie)
      val deduped = graft.ops.FrameOps.dedupKeepMax(enriched,
        Seq("id", "_type"), "_rn", Seq("id"))

      val existing = readState(spark, statePath, stateTemplate)
      val incoming = deduped.select(existing.columns.toSeq.map(col): _*)
      val res = Upsert.mergeMovies(existing, incoming, sortBy,
        now = current_timestamp())

      // every read of the OLD state happens before the swap — the merge
      // plan scans the state parquet lazily. Counters ride the SAME
      // write via observe() (a counters.collect() here re-executed the
      // whole merge a second time per batch — review finding)
      val tmp = statePath + ".tmp"
      res.merged.write.mode(SaveMode.Overwrite).parquet(tmp)
      val counts = res.observedCounts()
      swapState(spark, tmp, statePath)
      val (ins, upd) = (counts.getOrElse("insert", 0L), counts.getOrElse("update", 0L))

      // cursor totals are CUMULATIVE across runs (sync_top.py:266-271:
      // cur.get("inserted", 0) + inserted); the Report — like the HTTP
      // response body — carries this run's counts only
      CursorStore.save(spark, cursorPath,
        Cursor(cursorKey, lastPage,
          prior.map(_.inserted).getOrElse(0L) + ins,
          prior.map(_.updated).getOrElse(0L) + upd))
      Report(cursorKey, attempted, deadLettered, ins, upd, lastPage)
    } finally pageBatch.unpersist()
  }

  // ---------------------------------------------------------------
  // ST5 — the scheduled refresh jobs, composed (main.py:209-223).
  // ---------------------------------------------------------------

  /** The discover API's two scheduled sort orders; id tiebreaks make the
    * fixture feed deterministic where the live API's order is the
    * server's. */
  private def orderFor(sortBy: String): Seq[Column] = sortBy match {
    case "popularity.desc" => Seq(col("popularity").desc, col("id").asc)
    case "vote_count.desc" => Seq(col("vote_count").desc, col("id").asc)
    case other => throw new IllegalArgumentException(s"unsupported sort_by: $other")
  }

  /** Year-range sync (sync_years.py:151-230): year by year, each with
    * ITS OWN resumable cursor `years:<type>:<year>` (so a 500-page API
    * cap never strands a range), stopping once `limit` items have been
    * attempted. `yearCol` plays the discover `primary_release_year`
    * param: the per-year feed is `base` filtered to the year, ordered by
    * `sortBy`. A year's page budget is ceil(remaining/pageSize) — like
    * the reference, the last page is processed whole even if it
    * overshoots the limit — under `maxPagesPerYear` as an ABSOLUTE
    * page-number ceiling (the API's 500-page cap, `while page <=
    * MAX_PAGES`): a resumed cursor near it takes only the pages up to
    * it, at/past it takes none. */
  def syncYears(spark: SparkSession, base: DataFrame, details: DataFrame,
                ruTitles: DataFrame, stateTemplate: DataFrame,
                statePath: String, cursorPath: String, deadLetterPath: String,
                yearCol: Column, startYear: Int, endYear: Int,
                contentType: String = "movie", limit: Long = 5000,
                pageSize: Int = 20, resume: Boolean = true,
                sortBy: String = "popularity.desc",
                maxPagesPerYear: Int = 500): Seq[Report] = {
    val (s, e) = if (endYear < startYear) (endYear, startYear) else (startYear, endYear)
    val order = orderFor(sortBy)
    val reports = scala.collection.mutable.ArrayBuffer.empty[Report]
    var processed = 0L
    var y = s
    while (y <= e && processed < limit) {
      val remaining = limit - processed
      // nPages is the item BUDGET in pages; maxPagesPerYear rides as an
      // ABSOLUTE ceiling (`while page <= MAX_PAGES`) so a resumed
      // cursor can never walk pages past it (review finding: the old
      // min() capped the count, not the page number)
      val nPages = ((remaining + pageSize - 1) / pageSize).toInt
      val r = run(spark, base.filter(yearCol === y), details, ruTitles,
        stateTemplate, statePath, cursorPath, deadLetterPath,
        cursorKey = s"years:$contentType:$y",
        orderBy = order, pageSize = pageSize, nPages = nPages,
        resume = resume, sortBy = Some(sortBy),
        maxPage = Some(maxPagesPerYear))
      processed += r.attempted
      reports += r
      y += 1
    }
    reports.toSeq
  }

  /** The monthly job (main.py:209-215): re-sync ONE year by
    * popularity.desc — the order that surfaces this year's newly-popular
    * titles first. The reference takes `datetime.utcnow().year`; the
    * year is a parameter here so runs are reproducible (schedulers pass
    * their own clock). */
  def refreshCurrentYear(spark: SparkSession, base: DataFrame, details: DataFrame,
                         ruTitles: DataFrame, stateTemplate: DataFrame,
                         statePath: String, cursorPath: String, deadLetterPath: String,
                         yearCol: Column, year: Int,
                         limit: Long = 5000, pageSize: Int = 20,
                         resume: Boolean = true): Seq[Report] =
    syncYears(spark, base, details, ruTitles, stateTemplate,
      statePath, cursorPath, deadLetterPath, yearCol, year, year,
      limit = limit, pageSize = pageSize, resume = resume,
      sortBy = "popularity.desc")

  /** The year-close job (main.py:218-223): finalize one year by
    * vote_count.desc — the stable order once a year stops moving.
    *
    * Inherited reference quirk, preserved deliberately: the cursor key
    * `years:<type>:<year>` does NOT include the sort order
    * (sync_years.py:20), so a finalize that resumes a cursor written by
    * the popularity-ordered refresh skips pages that paginate
    * differently under vote_count. The reference has the identical
    * behavior (both endpoints default resume=True over the shared key);
    * run the finalize with `resume = false` for a full re-walk. */
  def finalizeYear(spark: SparkSession, base: DataFrame, details: DataFrame,
                   ruTitles: DataFrame, stateTemplate: DataFrame,
                   statePath: String, cursorPath: String, deadLetterPath: String,
                   yearCol: Column, year: Int,
                   limit: Long = 5000, pageSize: Int = 20,
                   resume: Boolean = true): Seq[Report] =
    syncYears(spark, base, details, ruTitles, stateTemplate,
      statePath, cursorPath, deadLetterPath, yearCol, year, year,
      limit = limit, pageSize = pageSize, resume = resume,
      sortBy = "vote_count.desc")

  /** State table read; empty-with-template-schema when absent (first
    * run). Heals an interrupted swap first (see [[graft.util.AtomicSwap]]). */
  private def readState(spark: SparkSession, path: String,
                        template: DataFrame): DataFrame = {
    graft.util.AtomicSwap.recover(spark, path)
    if (exists(spark, path)) spark.read.parquet(path)
    else template.limit(0)
  }

  /** Parquet MERGE target swap: the local-FS stand-in for an Iceberg/
    * Delta MERGE INTO commit. Spark can't overwrite a parquet dir it is
    * reading in the same job, hence write-aside + crash-safe swap. */
  private def swapState(spark: SparkSession, tmp: String, path: String): Unit =
    graft.util.AtomicSwap.swapIn(spark, tmp, path)

  private def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = graft.util.AtomicSwap.resolve(spark, path)
    fs.exists(p)
  }
}
