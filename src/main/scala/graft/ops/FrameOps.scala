package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Array-valued "frames" semantics (SURVEY.md §2.6, §2.8) — the densest
  * logic in the reference. Two layers:
  *
  *  - array-level combinators (higher-order functions, codegen-friendly,
  *    zero shuffle): operate on a frames array *within* a row, exactly like
  *    the reference's per-document Python loops;
  *  - table-level dedup/argmax (groupBy + min_by/max_by): a single shuffle
  *    with map-side partial aggregation — scales to 100 TB, unlike a window
  *    over the whole table (no partial agg) or a driver-side loop.
  */
object FrameOps {

  private val framesType =
    "array<struct<path:string,aspect_ratio:double,vote_average:double,width:int>>"

  /** O17 — pick_backdrop: among frames whose path is TRUTHY (non-null,
    * non-empty — the reference's `f.get("path")` check) and NOT in
    * `incorrect_frames`, the path of the max `(vote_average, width)` pair,
    * nulls treated as 0; exact ties keep the FIRST occurrence (Python's
    * stable sort with reverse=True preserves input order among equal
    * keys); NULL when no valid frame (reference: app/utils/frames.py:12-19).
    *
    * Array-level argmax via `array_max` over re-ordered structs: struct
    * comparison is field-by-field, so (va, w, -pos) ordering reproduces the
    * reference's sort key including the first-on-tie rule (max of -pos =
    * min position). Index-aware `transform` runs over the FILTERED array,
    * but `filter` preserves relative order, so position order = input
    * order. Stays inside codegen; no explode, no shuffle.
    */
  def pickBackdrop(frames: Column, incorrectFrames: Column): Column = {
    val valid = filter(
      coalesce(frames, array().cast(framesType)),
      f => length(f.getField("path")) > 0 &&
        !array_contains(coalesce(incorrectFrames, array().cast("array<string>")),
          f.getField("path")))
    array_max(transform(valid, (f, i) =>
      struct(
        coalesce(f.getField("vote_average"), lit(0.0)).as("va"),
        coalesce(f.getField("width"), lit(0)).as("w"),
        (-i).as("negpos"),
        f.getField("path").as("path")))).getField("path")
  }

  /** O18 — frames sorted by (vote_average desc, width desc), nulls as 0;
    * exact ties keep INPUT order (the reference's stable reverse sort,
    * app/tmdb_client.py:214-220) — expressed by carrying -pos in the
    * descending comparison struct (desc on -pos = ascending position). */
  private def sortFrames(frames: Column): Column =
    transform(
      sort_array(
        transform(coalesce(frames, array().cast(framesType)), (f, i) =>
          struct(
            coalesce(f.getField("vote_average"), lit(0.0)).as("va"),
            coalesce(f.getField("width"), lit(0)).as("w"),
            (-i).as("negpos"),
            f.as("f"))),
        asc = false),
      s => s.getField("f"))

  /** F11 + O20 — _normalize_frames: accept legacy `frame_path` alias, drop
    * entries without a path, dedup by path keeping the LARGER width (ties:
    * first occurrence wins) (reference: app/catalog/upsert.py:8-34).
    *
    * Array-level: index-aware `transform` gives each frame its position so
    * "first occurrence" is expressible; per-path argmax by (width, -pos).
    */
  def normalizeFrames(rawFrames: Column, legacyAlias: Boolean = false): Column = {
    // tag positions, resolve path alias, drop pathless entries.
    // `legacyAlias`: Mongo docs are schemaless so the reference probes both
    // names at runtime; Spark structs are closed, so the caller says
    // whether the `frame_path` field exists in the schema.
    // Falsy-path semantics: `f.get("path") or f.get("frame_path")` — the
    // empty string falls through to the alias, and a falsy final path is
    // skipped (`if not path: continue`). Null/None field values are stored
    // AS-IS; zero-coalescing happens only inside the dedup comparison key.
    def nonEmpty(p: Column): Column = when(length(p) > 0, p)
    def path(f: Column): Column =
      if (legacyAlias) coalesce(nonEmpty(f.getField("path")),
        nonEmpty(f.getField("frame_path")))
      else nonEmpty(f.getField("path"))
    val tagged = filter(
      transform(rawFrames, (f, i) =>
        struct(
          path(f).as("path"),
          f.getField("aspect_ratio").as("aspect_ratio"),
          f.getField("vote_average").as("vote_average"),
          f.getField("width").as("width"),
          i.as("pos"))),
      t => t.getField("path").isNotNull)
    val paths = array_distinct(transform(tagged, t => t.getField("path")))
    // per distinct path: max (width-or-0, -pos) => widest, first-on-tie
    // (the reference's strict `>` keeps the FIRST of equal widths)
    transform(paths, p => {
      val candidates = filter(tagged, t => t.getField("path") === p)
      val best = array_max(transform(candidates, t =>
        struct(
          coalesce(t.getField("width"), lit(0)).as("w"),
          (-t.getField("pos")).as("negpos"),
          t.as("t"))))
      val f = best.getField("t")
      struct(
        f.getField("path").as("path"),
        f.getField("aspect_ratio").as("aspect_ratio"),
        f.getField("vote_average").as("vote_average"),
        f.getField("width").as("width"))
    })
  }

  /** P12+O19 — the images-endpoint transform (reference:
    * app/tmdb_client.py:193-220): keep frames with aspect_ratio in
    * [1.5, 2.2] (null -> 0, hence dropped) and non-negative
    * vote_average (`(b.get("vote_average") or 0) >= 0`), drop falsy
    * (null/empty) paths (`if not path: continue`), dedup by path keeping
    * the FIRST occurrence, store vote_average normalized to 0 when falsy
    * (the reference builds the frame dict with `or 0`), then sort by
    * (vote_average desc, width desc) with ties in input order
    * ([[sortFrames]]' stable-sort contract). */
  def filterBackdrops(rawFrames: Column): Column = {
    val banded = filter(
      coalesce(rawFrames, array().cast(framesType)),
      f => coalesce(f.getField("aspect_ratio"), lit(0.0)).between(1.5, 2.2) &&
        coalesce(f.getField("vote_average"), lit(0.0)) >= 0 &&
        length(f.getField("path")) > 0)
    // pos must lead the struct: array_min compares fields in order, so
    // (f, pos) would pick the smallest FRAME among path-duplicates
    // instead of the first-fetched one
    val tagged = transform(banded, (f, i) => struct(i.as("pos"), f.as("f")))
    val paths = array_distinct(transform(banded, f => f.getField("path")))
    val dedup = transform(paths, p => {
      val first = array_min(filter(tagged,
        t => t.getField("f").getField("path") === p))
      first.getField("f")
    })
    // the reference STORES vote_average normalized (`or 0`), not just
    // sorts by it — a null va must come back 0, not null
    val normalized = transform(dedup, f => struct(
      f.getField("path").as("path"),
      f.getField("aspect_ratio").as("aspect_ratio"),
      coalesce(f.getField("vote_average"), lit(0.0)).as("vote_average"),
      f.getField("width").as("width")))
    sortFrames(normalized)
  }

  /** SO1 — $addToSet $each: idempotent multi-add (dedups, preserves
    * first-seen order) (reference: app/endpoints/frames.py:52-55). */
  def addToSet(incorrectFrames: Column, paths: Seq[String]): Column =
    array_union(
      coalesce(incorrectFrames, array().cast("array<string>")),
      lit(paths.toArray))

  /** SO2 — $pull $in: remove the listed paths
    * (reference: app/endpoints/frames.py:93-96). */
  def pullAll(incorrectFrames: Column, paths: Seq[String]): Column =
    array_except(
      coalesce(incorrectFrames, array().cast("array<string>")),
      lit(paths.toArray))

  /** SO3 — partition request paths into (present, missing) vs the movie's
    * frames (reference: app/endpoints/frames.py:66-69). NULL frames is
    * `doc.get("frames") or []` in the reference — present = [],
    * missing = all requested paths — so coalesce like every other
    * frames helper here, not NULL-propagate (review finding: the bare
    * transform(null) made both partitions null). */
  def presentPaths(frames: Column, paths: Seq[String]): Column =
    array_intersect(lit(paths.toArray), transform(
      coalesce(frames, array().cast(framesType)), _.getField("path")))
  def missingPaths(frames: Column, paths: Seq[String]): Column =
    array_except(lit(paths.toArray), transform(
      coalesce(frames, array().cast(framesType)), _.getField("path")))

  /** P13 — anti-membership filter: frames whose path is not blocklisted
    * (reference: app/utils/frames.py:11-12). */
  def validFrames(frames: Column, incorrectFrames: Column): Column =
    filter(coalesce(frames, array().cast(framesType)),
      f => !array_contains(coalesce(incorrectFrames, array().cast("array<string>")),
        f.getField("path")))

  // ------------------------------------------------------------------
  // Table-level variants — for when frames arrive as rows, not arrays.
  // ------------------------------------------------------------------

  /** O19 table-level — dedup keeping the FIRST row per key in `orderCols`
    * order. Implemented as groupBy + min_by(struct) so Spark runs a partial
    * aggregation before the shuffle (a window would shuffle all rows and
    * keep full partitions in memory). */
  def dedupKeepFirst(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val payload = struct(df.columns.toSeq.map(col): _*)
    val ord = struct(orderCols.map(col): _*)
    val picked = df.groupBy(keyCols.map(col): _*)
      .agg(min_by(payload, ord).as("_row"))
    picked.select(df.columns.toSeq.map(c => picked.col(s"_row.$c").as(c)): _*)
  }

  /** O20 table-level — dedup keeping the row with the MAX of `maxCol`
    * (ties: first in `tieCols` order). */
  def dedupKeepMax(df: DataFrame, keyCols: Seq[String], maxCol: String, tieCols: Seq[String]): DataFrame = {
    val payload = struct(df.columns.toSeq.map(col): _*)
    val ord = struct(col(maxCol) +: tieCols.map(c => -col(c)): _*)
    val picked = df.groupBy(keyCols.map(col): _*)
      .agg(max_by(payload, ord).as("_row"))
    picked.select(df.columns.toSeq.map(c => picked.col(s"_row.$c").as(c)): _*)
  }
}
