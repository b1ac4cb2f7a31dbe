package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sync-status queries over the cursor/commit-log table (SURVEY.md §2.5 A2,
  * §2.8 SO4, §2.9 F2-F4, §2.2 P9-P11, §2.7 R3-R4).
  */
object MetaSync {

  /** A2 — per-year sync coverage (reference:
    * app/endpoints/meta_sync.py:22-57): filter by content type + year
    * range, group by year, count rows / non-null sync stamps (Mongo's
    * `$sum($cond($ifNull(...)))` ≡ SQL `count(col)` null-skip), guarded
    * coverage ratio, ordered by year. One shuffle, partial-agg friendly. */
  def coverage(movies: DataFrame, contentType: String, yearFrom: Int, yearTo: Int): DataFrame = {
    movies
      .filter(col("_type") === contentType &&
        col("year").between(yearFrom, yearTo))
      .groupBy("year")
      .agg(
        count(lit(1)).cast("long").as("total"),
        count(col("last_popularity_sync_at")).cast("long").as("with_popularity"),
        count(col("last_vote_count_sync_at")).cast("long").as("with_vote_count"),
        max("last_popularity_sync_at").as("last_popularity_sync_at"),
        max("last_vote_count_sync_at").as("last_vote_count_sync_at"))
      .withColumn("popularity_coverage",
        when(col("total") > 0, col("with_popularity").cast("double") / col("total")).otherwise(0.0))
      .withColumn("vote_count_coverage",
        when(col("total") > 0, col("with_vote_count").cast("double") / col("total")).otherwise(0.0))
      .orderBy("year")
  }

  /** SO4 + F2 + F12 — year-cursor status with zero-backfill for missing
    * years (reference: app/main.py:176-206): build the expected key range,
    * left-join the cursor table, default page/inserted/updated to 0. */
  def yearSyncStatus(spark: SparkSession, cursors: DataFrame, contentType: String,
                     yearFrom: Int, yearTo: Int): DataFrame = {
    val expected = spark.range(yearFrom, yearTo + 1).toDF("year")
      .withColumn("key", Enrich.buildYearKey(lit(contentType), col("year")))
    expected.join(cursors, Seq("key"), "left_outer")
      .select(
        col("key"),
        col("year").cast("int").as("year"),
        coalesce(col("page"), lit(0)).as("page"),
        coalesce(col("inserted"), lit(0L)).as("inserted"),
        coalesce(col("updated"), lit(0L)).as("updated"))
      .orderBy("year")
  }

  /** P11 + F3 + R3 — parse all `years:*` cursors into (content_type, year)
    * rows, skipping malformed keys, sorted by (content_type, year)
    * (reference: app/main.py:96-118). */
  private def parsedYearCursors(cursors: DataFrame): DataFrame =
    cursors
      .filter(col("key").startsWith("years:"))
      .withColumn("content_type", Enrich.parseKeyContentType(col("key")))
      .withColumn("year", Enrich.parseKeyYear(col("key")))
      .filter(col("content_type").isNotNull && col("year").isNotNull)
      .orderBy("content_type", "year")

  /** ST6 — the full `/sync/status` composition (reference:
    * app/main.py:64-138): the top-votes cursor, the parsed year-cursor
    * list, and the error-window counts, with the endpoint's
    * `.get(field, 0)` defaulting. */
  final case class SyncStatus(topVotes: DataFrame, years: DataFrame,
      errors: DataFrame)

  def syncStatus(cursors: DataFrame, errors: DataFrame,
                 now: Column): SyncStatus = {
    def defaulted(df: DataFrame): DataFrame = df.select(
      (df.columns.toSeq.filterNot(Seq("page", "inserted", "updated").contains).map(col) ++ Seq(
        coalesce(col("page"), lit(0)).as("page"),
        coalesce(col("inserted"), lit(0L)).as("inserted"),
        coalesce(col("updated"), lit(0L)).as("updated"))): _*)
    SyncStatus(
      defaulted(cursors.filter(col("key") === "top_vote_count_movie")).limit(1),
      defaulted(parsedYearCursors(cursors)),
      Reports.errorCounts(errors.select(col("timestamp")), now))
  }
}
