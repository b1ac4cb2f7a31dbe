package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming-ready transforms over the `events` stream table.
  *
  * Each transform is written once and applied to BOTH the batch DataFrame
  * (oracle-verified) and a `readStream` DataFrame (spec-verified via
  * MemoryStream) — the Structured Streaming contract: the same declarative
  * plan, incrementalized by the engine.
  *
  * The reference itself has no event-time processing (SURVEY.md §2.10);
  * its incremental mechanics (resumable cursors ST1, idempotent upsert
  * ST2, dead-letter ST3) are covered by [[graft.ingest.SyncJob]]. These
  * window ops are the scale-pipeline extension over `events`.
  */
object StreamOps {

  /** Normalize an event-time column to plain TimestampType. A no-op on
    * TimestampType; on TIMESTAMP_NTZ (what Spark infers for parquet
    * TIMESTAMP(MICROS, isAdjustedToUTC=false)) the cast interprets the
    * wall-clock in the session time zone — pinned UTC in every session
    * here, so the instant is unchanged. Used by the operators that need
    * numeric time arithmetic (cast-to-long / unix_micros), both of which
    * Spark 4 refuses directly on NTZ. */
  private def normTs(c: Column): Column =
    c.cast(org.apache.spark.sql.types.TimestampType)

  /** Schema-aware variant for the Timestamp-ENCODING streaming operators
    * (userActivity, asofJoinStream): cast ONLY when the column really is
    * NTZ. An unconditional cast — even the TimestampType->TimestampType
    * no-op — rewrites the watermarked attribute, and the
    * flatMapGroupsWithState event-time-timeout check no longer
    * recognizes the column as carrying the watermark. (A WATERMARKED
    * NTZ input would still lose its watermark to the cast and fail that
    * check loudly at analysis — callers stream NTZ sources through a
    * TimestampType normalization before the watermark, as Tables.load
    * does.) */
  private def normTsIfNtz(df: DataFrame, name: String): Column =
    if (df.schema(name).dataType == org.apache.spark.sql.types.TimestampNTZType)
      normTs(col(name)).as(name)
    else col(name)

  /** PUBLIC face of the NTZ normalization rule: rewrite `name` to plain
    * TimestampType iff it is TIMESTAMP_NTZ, else return `df` unchanged.
    * Under the pinned-UTC sessions used everywhere here the rewrite is
    * instant-preserving (the wall-clock is reinterpreted in UTC).
    *
    * For STREAMING sources this must run BEFORE `withWatermark` — a cast
    * after the watermark rewrites the watermarked attribute and the
    * stateful operators no longer see the column as carrying it (the
    * normTsIfNtz contract above). The d52/d53 file drives route their
    * sources through this, and works unchanged on batch frames (same
    * rule Tables.load applies at the loader). */
  private[graft] def normalizeEventTime(df: DataFrame, name: String): DataFrame =
    if (df.schema(name).dataType == org.apache.spark.sql.types.TimestampNTZType)
      df.withColumn(name, normTs(col(name)))
    else df

  /** Start a streaming query via `start`, drive it to termination, and
    * return its FULL progress trace. `query.recentProgress` is capped at
    * `spark.sql.streaming.numRecentProgressUpdates` (default 100), so a
    * drive with more micro-batches than that — exactly the one-shot
    * backfill shape — would silently lose its earliest entries; a
    * listener sees every event. The trace is complete by construction:
    * the listener bus is FIFO per listener and the terminated event is
    * posted after every progress event of the query, so awaiting it
    * (bounded) guarantees the buffer is final. Events are filtered to
    * the started query's id — concurrent queries on the session don't
    * leak in. */
  private[streaming] def driveCollectingProgress(
      streams: org.apache.spark.sql.streaming.StreamingQueryManager,
      start: => org.apache.spark.sql.streaming.StreamingQuery)
      : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val buf = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var qid: java.util.UUID = null
    // terminated ids recorded UNCONDITIONALLY: a fast drive can post
    // its terminated event before the main thread has even assigned
    // qid (review finding — the id-gated countdown then never fired,
    // costing a spurious 10 s stall + a false truncation warning);
    // the main thread re-checks this set once qid is known
    val terminated =
      java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val l = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        buf.synchronized { buf += e.progress; () }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        terminated.add(e.id)
        if (qid != null && e.id == qid) done.countDown()
      }
    }
    streams.addListener(l)
    try {
      val q = start
      qid = q.id
      if (terminated.contains(qid)) done.countDown()
      q.awaitTermination()
      // the trace is complete only if the terminated event was actually
      // SEEN (the FIFO guarantee is per listener; a heavily loaded bus
      // can deliver it later than awaitTermination returns) — a timeout
      // here means the returned trace may be missing tail entries, and
      // silence would contradict the scaladoc's completeness claim
      val sawTerminated = done.await(10, java.util.concurrent.TimeUnit.SECONDS)
      if (!sawTerminated)
        System.err.println(s"[graft] driveCollectingProgress: terminated event " +
          s"for query $qid not observed within 10 s — progress trace may be truncated")
      buf.synchronized {
        buf.filter(_.id == qid).sortBy(_.batchId).toIndexedSeq
      }
    } finally streams.removeListener(l)
  }

  /** Clone `spark` (same SparkContext, own SQLConf) pinned to `n`
    * shuffle partitions — how the file drives run a query at a
    * parallelism sized to the micro-batch volume without mutating the
    * caller's session conf. Modifiable confs are copied so the clone
    * behaves like the parent (time zone, AQE, ANSI mode, ...). */
  private def clonedSession(
      spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession = {
    val s2 = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) s2.conf.set(k, v)
    }
    s2
  }

  private[streaming] def sizedSession(
      spark: org.apache.spark.sql.SparkSession,
      n: Int): org.apache.spark.sql.SparkSession = {
    require(n > 0, s"partitions must be positive: $n")
    val s2 = clonedSession(spark)
    s2.conf.set("spark.sql.shuffle.partitions", n.toString)
    s2
  }

  /** [[sizedSession]] generalized to the file drives' per-query state
    * tuning: clone only when something is actually overridden. The
    * short provider names map to the engine's two built-ins; anything
    * else is taken as a fully-qualified provider class. */
  private[streaming] def tunedSession(
      spark: org.apache.spark.sql.SparkSession,
      statePartitions: Option[Int],
      stateStoreProvider: Option[String]): org.apache.spark.sql.SparkSession =
    if (statePartitions.isEmpty && stateStoreProvider.isEmpty) spark
    else {
      val s2 = statePartitions match {
        case Some(n) => sizedSession(spark, n)
        case None    => clonedSession(spark)
      }
      stateStoreProvider.foreach { p =>
        val cls = p match {
          case "hdfs" =>
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
          case "rocksdb" =>
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
          case fqcn => fqcn
        }
        s2.conf.set("spark.sql.streaming.stateStore.providerClass", cls)
      }
      s2
    }

  /** Tumbling event-time window stats per event_type. Order-independent
    * aggregates only (count/min/max) — sums of doubles are not
    * reproducible across engines/retries at scale.
    * Streaming: apply after `withWatermark("ts", ...)`. */
  def tumblingStats(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      // explicit event-time contract: a null-ts event belongs to no
      // window (Spark's window() drops it implicitly; the filter makes
      // the drop visible and oracle-replayable)
      .filter(col("ts").isNotNull)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct("user_id").as("approx_users"),
        min("value").as("min_value"),
        max("value").as("max_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("approx_users"),
        col("min_value"), col("max_value"))

  /** Sliding-window event counts (window/slide), the hopping variant. */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
                    slide: String = "30 minutes"): DataFrame =
    events
      // same null-ts contract as tumblingStats
      .filter(col("ts").isNotNull)
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"))

  final case class UserActivity(user_id: Long, n_events: Long, last_value: Double)
  /** Keyed state of [[userActivity]] — the output triple plus the MAX
    * EVENT TIME ever seen for the key (`last_ts_ms`), which both the
    * idle timeout and `last_value` anchor to. A pre-round-12 checkpoint
    * (state = the bare output triple) fails the state schema check
    * loudly on resume, the tsUnit precedent. */
  final case class UserActivityState(user_id: Long, n_events: Long,
                                     last_value: Double, last_ts_ms: Long)

  /** Custom keyed state via flatMapGroupsWithState: a per-user running
    * activity profile (count + last value), emitted on every update and
    * dropped after `idleMinutes` of EVENT-TIME inactivity — the
    * mapGroups/timeout machinery arbitrary stateful pipelines hang off.
    * Rows: (user_id, ts, value); requires a watermark for the timeout.
    *
    * Event-time, not arrival-order, semantics across batches (review
    * finding): a LATE but in-watermark row increments the count but
    * must neither overwrite a newer `last_value` nor re-arm the idle
    * timeout EARLIER — the timeout is anchored to the newest event
    * ever seen, so a late batch can only extend a profile's life,
    * never shorten it. */
  def userActivity(events: DataFrame, idleMinutes: Int = 120): Dataset[UserActivity] = {
    require(idleMinutes > 0, s"idleMinutes=$idleMinutes must be positive")
    val typed = events.select(col("user_id").cast("long"), normTsIfNtz(events, "ts"),
      col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)](
        Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP, Encoders.scalaDouble))
    typed.groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[UserActivityState, UserActivity](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[UserActivityState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
            val prev = state.getOption
              .getOrElse(UserActivityState(user, 0L, 0.0, Long.MinValue))
            // last_value = value at the LATEST (ts, value) seen across
            // all batches — the SAME max-(ts, value) rule within a batch
            // (the sort makes the fold's last win) and across batches
            // (equal stored ts: keep the larger value, so output does
            // not depend on micro-batch boundaries; review finding: a
            // bare >= let a later batch's smaller equal-ts value win)
            val (lastTs, lastV) = sorted.foldLeft((prev.last_ts_ms, prev.last_value)) {
              case ((t, v), r) =>
                if (r._2.getTime > t || (r._2.getTime == t && r._3 >= v))
                  (r._2.getTime, r._3)
                else (t, v)
            }
            val next = UserActivityState(user, prev.n_events + sorted.size,
              lastV, lastTs)
            state.update(next)
            state.setTimeoutTimestamp(next.last_ts_ms + idleMinutes * 60000L)
            Iterator.single(UserActivity(user, next.n_events, next.last_value))
          }
      }(Encoders.product[UserActivityState], Encoders.product[UserActivity])
  }

  /** Event-time interval join (attribution shape): each `click` pairs
    * with the SAME USER's `view`s in the preceding `withinMinutes`.
    * Written once for both worlds: on streams this is a stream-stream
    * inner join — the event-time bound plus per-input watermarks let the
    * engine expire join state (without the bound, both sides' state
    * would grow forever); on batch the same plan is a plain range join.
    * Inputs are (user_id, ts, ...) frames pre-filtered to one event
    * type each. */
  def intervalJoin(views: DataFrame, clicks: DataFrame,
                   withinMinutes: Int): DataFrame = {
    val v = views.select(col("user_id"), col("ts").as("view_ts"),
      col("event_id").as("view_id"))
    val c = clicks.select(col("user_id"), col("ts").as("click_ts"),
      col("event_id").as("click_id"))
    v.join(c,
      v("user_id") === c("user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $withinMinutes MINUTES"))
      .select(v("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** As-of join: for each left row, the single most recent right row with
    * the same keys and `right.ts <= left.ts` (the point-in-time lookup of
    * feature stores / tick data — "the latest view before this click").
    *
    * NOT implemented as a range join: Spark plans `r.ts <= l.ts` as a
    * broadcast/shuffled join with a per-key cartesian filter — O(n_l x
    * n_r) per key — and then still needs a max per left row. Instead the
    * two sides are UNIONED and resolved with ONE window pass: tag rows,
    * sort each key group by (ts, side) — right rows first on equal ts, so
    * `<=` holds — and carry the last non-null right payload forward
    * (`last(..., ignoreNulls)` over an unbounded-preceding frame).
    * One shuffle on the keys, O(n log n) per key, no join state at all.
    *
    * Right rows must be unique per (keys, rightTs) — with duplicates
    * "the" as-of row is undefined. By default the precondition is
    * ENFORCED (`validateRights = true`): a duplicate raises a loud
    * runtime error naming the key and timestamp, instead of shipping a
    * nondeterministic "as-of" row. The check rides the SAME window sort
    * the resolution already pays for — duplicates per (keys, ts) are
    * ADJACENT under the (ts, side) ordering, so one `lag` per row
    * detects them; no extra shuffle, no extra sort, one extra window
    * pass. Callers that pre-dedup (the d40 query keeps max event_id
    * per (user, ts)) pay only that pass; callers that KNOW the right
    * side is unique (e.g. it came out of a groupBy on (keys, ts)) can
    * opt out. Streaming face: [[asofJoinStream]] — the same union
    * resolved through watermarked keyed state (and the same loud
    * duplicate check, there against buffered state); the batch plan
    * here is the oracle-checkable semantics.
    *
    * `rightCols` are the right payload columns to carry (renamed as
    * given); left columns pass through unchanged. */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               rightCols: Map[String, String],
               validateRights: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rightCols.nonEmpty, "asofJoin needs at least one right payload column")
    val keyCols = keys.map(col)
    // The right payload rides as ONE struct, resolved with a single
    // last(ignoreNulls) — per-column lasts would skip a null FIELD of
    // the as-of right row and backfill it from an OLDER right,
    // stitching columns of different rows together (caught by the
    // generic-payload full-row pin: the struct wrapper is non-null for
    // every right row even when its fields are null, so the whole row
    // resolves atomically).
    val rPay = struct(rightCols.map { case (from, to) => col(from).as(to) }.toSeq: _*)
    val rPayType = right.select(rPay).schema.head.dataType
    // a right row with a null ts has no position on the timeline (it
    // would sort FIRST and become "the latest right" for early lefts),
    // and a null key matches nothing under SQL equality (Spark windows
    // would group it with null-key lefts) — both are dropped. Lefts
    // pass unfiltered: a null-ts/key left keeps its row and resolves
    // unmatched (nulls sort first, before every surviving right).
    // Hostile-events replay finding.
    val rightClean = right.filter(
      (col(rightTs).isNotNull +: keys.map(col(_).isNotNull)).reduce(_ && _))
    val rightSide = rightClean.select(
      keyCols ++ Seq(col(rightTs).as("_ts"), lit(0).as("_side"), rPay.as("_rpay")) ++
        left.columns.filterNot(keys.contains).map(c => lit(null).as(s"_l_$c")): _*)
    val leftSide = left.select(
      keyCols ++ Seq(col(leftTs).as("_ts"), lit(1).as("_side"),
        lit(null).cast(rPayType).as("_rpay")) ++
        left.columns.filterNot(keys.contains).map(c => col(c).as(s"_l_$c")): _*)
    val w = Window.partitionBy(keyCols: _*).orderBy(col("_ts").asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val union = rightSide.unionByName(leftSide)
    // duplicate-right enforcement (scaladoc): under the (ts, side)
    // ordering all rights at one (keys, ts) are adjacent, so a right
    // whose PREDECESSOR is a right at the same ts is the second of a
    // duplicate pair. The error is grafted onto _rpay between the lag
    // window and the resolution window: the projection runs for EVERY
    // row (Catalyst cannot prune _rpay — it feeds last() — nor push the
    // post-window _side filter below the window), so detection cannot
    // be optimized away.
    val checked =
      if (!validateRights) union
      else {
        val lw = Window.partitionBy(keyCols: _*).orderBy(col("_ts").asc, col("_side").asc)
        union
          .withColumn("_prev_ts", lag(col("_ts"), 1).over(lw))
          .withColumn("_prev_side", lag(col("_side"), 1).over(lw))
          .withColumn("_rpay",
            when(col("_side") === 0 && col("_prev_side") === 0 &&
                 col("_prev_ts") === col("_ts"),
              raise_error(concat_ws("", lit("asofJoin: duplicate right rows per (keys, ts): key=("),
                concat_ws(",", keyCols.map(_.cast("string")): _*),
                lit(") ts="), col("_ts").cast("string"),
                lit(" — dedup the right side first (e.g. groupBy keys+ts) or pass validateRights=false"))))
              .otherwise(col("_rpay")))
          .drop("_prev_ts", "_prev_side")
      }
    val resolved = checked
      .select(keyCols ++ Seq(col("_ts"), col("_side")) ++
        left.columns.filterNot(keys.contains).map(c => col(s"_l_$c")) :+
        last(col("_rpay"), ignoreNulls = true).over(w).as("_rp"): _*)
      .filter(col("_side") === 1)
    resolved.select(
      keyCols ++
        left.columns.filterNot(keys.contains).map(c => col(s"_l_$c").as(c)) ++
        rightCols.values.map(to => col("_rp").getField(to).as(to)).toSeq: _*)
  }

  /** Per-event trailing-window stats: for every event, the count and max
    * value of the SAME user's events in the preceding `minutes` — the
    * event-time RANGE frame (velocity/fraud features: "how many events
    * did this user fire in the last 30 minutes"). Distinct from the d14
    * grid windows: the frame is anchored at each ROW, not at wall-clock
    * buckets.
    *
    * The frame orders by `unix_micros(ts)`, not a seconds cast: these
    * timestamps carry microseconds, and a truncating cast would shift
    * frame boundaries relative to any engine doing exact interval
    * arithmetic. Only order-independent aggregates (count/max) — a
    * windowed double sum would be frame-order-dependent. One shuffle on
    * user_id; Spark evaluates sliding range frames with two pointers,
    * O(n) per partition after the sort. */
  def trailingStats(events: DataFrame, minutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // normTs: unix_micros requires TimestampType and rejects
    // TIMESTAMP_NTZ; the cast is a no-op on TimestampType and, under the
    // pinned-UTC sessions used everywhere here, instant-preserving on NTZ
    // — so the operator survives upstream parquet type drift either way.
    val w = Window.partitionBy("user_id").orderBy(unix_micros(normTs(col("ts"))))
      .rangeBetween(-minutes * 60L * 1000000L, 0)
    events.select(col("user_id"), col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
      count(lit(1)).over(w).as("n_trailing"),
      max(col("value")).over(w).as("max_value_trailing"))
  }

  /** Generic in the payload type `P` (round 12): `String` for the JSON
    * codec, `Array[Byte]` for the binary codec. The `P = String`
    * instantiation's encoder schema is field-for-field what the former
    * concrete classes produced, so pre-existing JSON-mode checkpoints
    * resume unchanged. */
  final case class AsOfRow[P](key: Long, ts: java.sql.Timestamp, payload: P,
                              is_left: Boolean)
  /** Keyed state of [[asofJoinStream]]. `tsUnit` is a SCHEMA VERSION
    * MARKER, not data: event times were re-keyed from epoch-millis to
    * epoch-micros (round 11), and a pre-change checkpoint deserializes
    * cleanly into the same (Long, String) pairs — silently interpreted
    * 1000x off. The extra field changes the state schema so the state
    * store's compatibility check REJECTS such a resume at query start
    * (loud failure -> restart with a fresh checkpoint) instead of
    * appending wrong rows to the sink. (A codec flip string<->binary
    * changes the payload type itself and is rejected the same way.) */
  final case class AsOfState[P](lefts: List[(Long, P)],
                                rights: List[(Long, P)],
                                tsUnit: String = "us")
  final case class AsOfMatch[P](key: Long, left_ts: java.sql.Timestamp,
                                left_payload: P,
                                right_ts: Option[java.sql.Timestamp],
                                right_payload: Option[P])

  /** Deterministic state sort for binary payloads: unsigned
    * lexicographic — the bytes analogue of the JSON codec's
    * payload-string order. */
  private implicit val bytesOrdering: Ordering[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)

  /** java.sql.Timestamp <-> epoch MICROSECONDS (TimestampType's native
    * precision): getTime carries millis, getNanos the full fractional
    * second — the sub-millisecond part is (nanos / 1000) % 1000. */
  private def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
  private def microsTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** JSON options for the payload pack/unpack round-trip: microsecond
    * timestamp precision (the default format truncates to millis) and
    * explicit nulls (stable strings for the deterministic state sort). */
  private val payloadJsonOpts = Map(
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "ignoreNullFields" -> "false")

  /** STREAMING face of [[asofJoin]] — the same union resolved through
    * ordered keyed state instead of a window. Event-time correct under
    * out-of-order arrival ACROSS micro-batches (the case a naive
    * last-value stream gets wrong): rows buffer in per-key state, and a
    * left row is resolved only once the watermark passes its event time
    * — at that point every right row at-or-before it has arrived (later
    * ones would be late beyond the watermark and dropped by the engine).
    * State is pruned to (rows above the watermark) + (the single latest
    * right at-or-below it), so per-key state is bounded by the
    * watermark delay x arrival rate, exactly like the engine's own
    * stream-stream join state.
    *
    * GENERIC payload (round 11): both inputs carry `key` and `ts` plus
    * ANY other columns; every non-key/ts column rides through the keyed
    * state and comes back typed in the output as `left_<col>` /
    * `right_<col>` (right side null on no-match), around `key`,
    * `left_ts`, `right_ts` — the column order of the former concrete
    * face, which is the lPay=rPay=["id"] special case. In state the
    * payload transits as a packed struct, opaque to the state machine;
    * `payloadCodec` picks the pack (round 12 — formerly JSON-only with
    * the binary form documented as an escape hatch):
    *   - `"json"` (default): `to_json`/`from_json` — version-portable,
    *     fields matched BY NAME, any JSON-expressible type; costs a
    *     measured 1.3-1.5x in steady state (SCALE.md 30x study).
    *   - `"binary"`: [[graft.functions.StructCodec]] — the payload
    *     rides as UnsafeRow bytes, no text render/parse; for
    *     fixed-schema hot paths. Positional fields, same-Spark-version
    *     checkpoints only (trade documented on StructCodec); identical
    *     outputs (spec-pinned on nested payloads).
    * Either way types round-trip exactly and the state CONTRACT —
    * (lefts, rights, tsUnit) per key, payload opaque — is unchanged;
    * a codec flip on an existing checkpoint fails loudly (state schema
    * check). Right rows must be
    * unique per (key, ts), as in the batch face — and as there the
    * precondition is ENFORCED by default (`validateRights = true`): a
    * second right at a buffered right's (key, ts) fails the batch with
    * a loud error naming the key and instant, instead of resolving the
    * tie by payload-string order. The check is an adjacent-equal scan
    * of the per-key right buffer the operator already sorts — O(buffer)
    * per state update, no extra state. Every possible duplicate pair
    * meets in that buffer: above the watermark the FULL arrived list is
    * carried, and a right at-or-below it can never gain a twin later
    * (the engine drops arrivals at ts <= watermark as late), so pruning
    * ripe rights forfeits no detection. Inputs must carry
    * `withWatermark` on ts before the call (their union watermark is
    * the min, as with any multi-input stateful op). Left rows forever
    * below a stalled watermark emit when it finally advances.
    *
    * `rightRetentionMinutes` — OPTIONAL state bound BELOW the key
    * floor. By default a key's single latest ripe right is remembered
    * FOREVER (the as-of contract: a left may look back arbitrarily
    * far), so steady-state state is O(distinct keys) — measured at
    * exactly the key count in SCALE.md's 30x study. Under unbounded
    * key churn (months of session-ids at 100 TB) that floor itself
    * grows without bound; setting a retention R forgets a dormant
    * key's latest right once it is older than R below the watermark
    * (the whole key leaves the store when nothing else is buffered —
    * a dedicated timeout wakes dormant keys so cleanup needs no
    * further traffic). The documented trade: a left arriving after
    * expiry matches NOTHING older than R — correct exactly when the
    * business rule already bounds the lookback (same trade as Spark's
    * own stream-stream join state retention). */
  def asofJoinStream(left: DataFrame, right: DataFrame,
                     rightRetentionMinutes: Option[Int] = None,
                     validateRights: Boolean = true,
                     payloadCodec: String = "json"): DataFrame = {
    require(rightRetentionMinutes.forall(_ > 0),
      s"rightRetentionMinutes must be positive: $rightRetentionMinutes")
    require(payloadCodec == "json" || payloadCodec == "binary",
      s"payloadCodec must be 'json' or 'binary': $payloadCodec")
    def payloadCols(df: DataFrame): Seq[String] =
      df.columns.toSeq.filterNot(c => c == "key" || c == "ts")
    val lPay = payloadCols(left)
    val rPay = payloadCols(right)
    def tagged[P](packFn: Seq[String] => Column)
                 (implicit enc: Encoder[AsOfRow[P]]): Dataset[AsOfRow[P]] = {
      // rows without a key or event time cannot participate in keyed
      // watermark semantics — a null ts NPE'd the state handler and
      // KILLED the query (hostile-events replay finding; one corrupt
      // row must never take down a production stream), and a null key
      // cannot decode into the primitive-keyed state row. Dropping them
      // IS the documented batch equivalence: the batch face leaves a
      // null-ts left unmatched, and such a left can never become
      // watermark-ripe here anyway.
      def tag(df: DataFrame, isLeft: Boolean, pay: Seq[String]) = df
        .filter(col("key").isNotNull && col("ts").isNotNull)
        .select(
          col("key").cast("long"), normTsIfNtz(df, "ts"),
          packFn(pay).as("payload"), lit(isLeft).as("is_left")).as[AsOfRow[P]]
      tag(left, true, lPay).unionByName(tag(right, false, rPay))
    }
    val (matched, unpackFn) = payloadCodec match {
      case "json" =>
        def packJson(pay: Seq[String]): Column =
          if (pay.isEmpty) lit("{}")
          else to_json(struct(pay.map(col): _*), payloadJsonOpts)
        val m = resolveAsOf[String](
          tagged[String](packJson)(Encoders.product[AsOfRow[String]]),
          rightRetentionMinutes, validateRights)(
          Ordering.String, Encoders.product[AsOfState[String]],
          Encoders.product[AsOfMatch[String]])
        (m.toDF(), (c: Column, s: org.apache.spark.sql.types.StructType) =>
          from_json(c, s, payloadJsonOpts))
      case "binary" =>
        def packBin(pay: Seq[String]): Column =
          if (pay.isEmpty) lit(Array.emptyByteArray)
          else graft.functions.StructCodec.pack(struct(pay.map(col): _*))
        val m = resolveAsOf[Array[Byte]](
          tagged[Array[Byte]](packBin)(Encoders.product[AsOfRow[Array[Byte]]]),
          rightRetentionMinutes, validateRights)(
          bytesOrdering, Encoders.product[AsOfState[Array[Byte]]],
          Encoders.product[AsOfMatch[Array[Byte]]])
        (m.toDF(), (c: Column, s: org.apache.spark.sql.types.StructType) =>
          graft.functions.StructCodec.unpack(c, s))
    }
    unpackAsOf(matched, left.schema, right.schema, unpackFn)
  }

  /** The codec-agnostic state machine of [[asofJoinStream]]: payloads
    * are opaque `P` values — only their (ts, payload) ordering is used,
    * and only for deterministic buffer order. */
  private def resolveAsOf[P](tagged: Dataset[AsOfRow[P]],
                             rightRetentionMinutes: Option[Int],
                             validateRights: Boolean)
                            (implicit ord: Ordering[P],
                             stateEnc: Encoder[AsOfState[P]],
                             matchEnc: Encoder[AsOfMatch[P]]): Dataset[AsOfMatch[P]] = {
    tagged
      .groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[AsOfState[P], AsOfMatch[P]](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, rows: Iterator[AsOfRow[P]], state: GroupState[AsOfState[P]]) =>
          // state keys event time in MICROSECONDS (tsMicros) — the full
          // precision of Spark's TimestampType. Keying on getTime (ms)
          // would truncate: a right at ...000800us would match a left
          // at ...000300us here but not in the batch asofJoin, breaking
          // the streamed == batch contract on sub-ms data. The
          // engine-facing quantities stay in ms: the watermark arrives
          // in ms (scaled up; a row inside the watermark's ms is NOT
          // ripe until the full micros value is covered), and timeout
          // timestamps scale down with max(.., wm+1) so a wake can
          // never register at or below the current watermark (illegal
          // in the API). Early wakes are harmless (the group re-arms).
          // ONE DOCUMENTED ms-GRANULARITY EDGE: a left with sub-ms
          // offset inside the CURRENT watermark millisecond (lts in
          // (wm*1000, wm*1000+999]) becomes ripe at watermark wm+1,
          // but the earliest legal timeout (wm+1) only fires when the
          // watermark EXCEEDS it — if a drive's final watermark lands
          // exactly on wm+1 and no further rows reach the key, that
          // left stays pending (indistinguishable from any other
          // pending-at-final-watermark left; next data or watermark
          // tick emits it). Event-time timeouts are ms-granular, so no
          // arming can close this 1 ms window; on a CONTINUOUS stream
          // output is never WRONG, at worst 1 ms later than
          // information-theoretically possible. On a BOUNDED drive
          // (AvailableNow, or any query stopped at its final watermark)
          // there IS no next tick: a left whose ripeness instant
          // coincides with the final watermark is permanently OMITTED,
          // not merely delayed — unless an older pending left on the
          // same key armed the group's timeout strictly below the final
          // watermark, in which case it rides along. Oracle/spec
          // authors comparing a bounded drive against a closed-form
          // replay must therefore use strict `<` at the final watermark
          // (or exclude the boundary instant from both sides, as the
          // d53 verify entry does) — never `<=`.
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val prev = state.getOption.getOrElse(AsOfState[P](Nil, Nil))
          val (newL, newR) = rows.toList.partition(_.is_left)
          val lefts = prev.lefts ++ newL.map(r => (tsMicros(r.ts), r.payload))
          val rights = (prev.rights ++ newR.map(r => (tsMicros(r.ts), r.payload)))
            .sortBy(r => (r._1, r._2))
          // duplicate-right enforcement (scaladoc): the buffer is
          // sorted, so duplicates per (key, ts) are adjacent — one
          // linear scan per update, before any of them can resolve a
          // left by payload-string order
          if (validateRights && rights.sizeIs > 1)
            rights.iterator.zip(rights.iterator.drop(1)).foreach { case (a, b) =>
              if (a._1 == b._1) throw new IllegalStateException(
                s"asofJoinStream: duplicate right rows per (key, ts): key=$key " +
                  s"ts=${microsTs(a._1)} — dedup the right stream first or pass " +
                  "validateRights=false")
            }
          // resolve every left at-or-below the watermark. The <= is
          // TIGHT against the engine's late filter, which drops rows
          // with ts <= watermark (equality dropped — pinned empirically
          // by the boundary-strictness spec): no future right at or
          // below the watermark can ever arrive, so a left exactly AT
          // the watermark instant has seen every candidate right and is
          // safe to resolve now.
          val (ripe, pendingL) = lefts.partition(_._1 <= wmMicros)
          val out = ripe.sortBy(l => (l._1, l._2)).map { case (lts, lpay) =>
            val m = rights.filter(_._1 <= lts).lastOption
            AsOfMatch(key, microsTs(lts), lpay,
              m.map(x => microsTs(x._1)), m.map(_._2))
          }
          // prune rights: everything above the watermark is still in
          // play; below it only the LATEST can serve a future left —
          // and under a retention bound, only while younger than R
          // below the watermark (matching above already used the
          // full arrived list; expiry governs what is CARRIED)
          val (ripeR, pendingR) = rights.partition(_._1 <= wmMicros)
          val latestRipe = rightRetentionMinutes match {
            case Some(m) => ripeR.lastOption.filter(_._1 >= wmMicros - m * 60000000L)
            case None    => ripeR.lastOption
          }
          val kept = latestRipe.toList ++ pendingR
          if (pendingL.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(AsOfState(pendingL, kept))
            // wake the group when the watermark passes its oldest
            // pending left, even if no further rows arrive for the key
            if (pendingL.nonEmpty)
              state.setTimeoutTimestamp(math.max(
                Math.floorDiv(pendingL.map(_._1).min, 1000L),
                wmMicros / 1000L + 1))
            else rightRetentionMinutes.foreach { m =>
              // dormant key under retention: wake when the newest kept
              // right ages out, so the state leaves the store without
              // needing further traffic on the key
              state.setTimeoutTimestamp(math.max(
                Math.floorDiv(kept.map(_._1).max, 1000L) + m * 60000L,
                wmMicros / 1000L + 1))
            }
          }
          out.iterator
      }(stateEnc, matchEnc)
  }

  private def paySchema(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      s.fields.filterNot(f => f.name == "key" || f.name == "ts"))

  /** Re-type the packed payloads into `left_<col>` / `right_<col>`
    * columns in the former concrete face's column order (key, left
    * payload, left_ts, right payload, right_ts). A stateless projection
    * — legal on the streaming frame after the stateful operator.
    * `unpack` is the codec's struct-restore (from_json / StructUnpack). */
  private def unpackAsOf(matched: DataFrame,
                         leftSchema: org.apache.spark.sql.types.StructType,
                         rightSchema: org.apache.spark.sql.types.StructType,
                         unpack: (Column, org.apache.spark.sql.types.StructType) => Column): DataFrame = {
    val lp = paySchema(leftSchema)
    val rp = paySchema(rightSchema)
    val parsed = matched
      .withColumn("_l",
        if (lp.isEmpty) lit(null) else unpack(col("left_payload"), lp))
      .withColumn("_r",
        if (rp.isEmpty) lit(null) else unpack(col("right_payload"), rp))
    parsed.select(
      Seq(col("key")) ++
        lp.fields.toSeq.map(f => col("_l").getField(f.name).as(s"left_${f.name}")) ++
        Seq(col("left_ts")) ++
        rp.fields.toSeq.map(f => col("_r").getField(f.name).as(s"right_${f.name}")) ++
        Seq(col("right_ts")): _*)
  }

  /** BATCH-DRIVE face of [[asofJoinStream]] (bench/verify entry
    * d53_streaming_asof + one-shot backfills): feed two (key, ts,
    * payload...) parquet dirs through the
    * streaming as-of as AvailableNow file micro-batches
    * (`maxFilesPerTrigger` per batch — a multi-file input advances the
    * watermark batch over batch, exercising the cross-batch buffering
    * the operator exists for). The matches land in a parquet FILE sink
    * at `outputDir` — executor-side, never accumulated on the driver,
    * so the path holds at backfill scale — and the returned frame is a
    * (lazy) read of that sink; `outputDir` is the caller's to keep or
    * delete. NTZ event-time inputs are normalized before the watermark
    * ([[normalizeEventTime]]).
    *
    * Output covers every left row RIPE by the final watermark — the
    * streaming contract; lefts above it stay pending in (discarded)
    * state. Each emitted match equals the batch [[asofJoin]] row for
    * that left (StreamingSpec pins the equivalence).
    *
    * `statePartitions` — state-store PARALLELISM, decided once. A
    * stateful streaming query creates one state-store instance per
    * shuffle partition, and the count is recorded in the checkpoint's
    * offset log at FIRST start: every later run keeps the recorded
    * value no matter what the session conf says (spec-pinned), because
    * the keyed state files are physically laid out per partition.
    * Unlike batch shuffles, this cannot be rescaled by a conf change —
    * re-partitioning state means a new checkpoint and a state rebuild.
    * So size it UP FRONT for the target (≈ cluster cores at 100 TB,
    * small for fixture-scale drives — each instance costs a task + a
    * store commit per batch). None inherits the session's
    * `spark.sql.shuffle.partitions`; Some(n) runs the query in a
    * cloned session pinned to n, leaving the caller's session conf
    * untouched.
    *
    * `stateStoreProvider` — `"hdfs"` (engine default: state lives in
    * executor HEAP, snapshotted to the checkpoint), `"rocksdb"`
    * (state in off-heap RocksDB with local-disk spill — the 100 TB
    * choice once per-partition state outgrows heap: the as-of key
    * floor is O(distinct keys), and months of keys x a wide payload
    * do not fit executor memory), or a fully-qualified provider class.
    * Like the partition count this is DECIDED ONCE per checkpoint —
    * and by the same mechanism: the provider class is recorded in the
    * checkpoint's offset log at first start, and every later run KEEPS
    * the recorded provider no matter what the session conf says
    * (spec-pinned empirically: a rocksdb checkpoint resumed under the
    * default conf continues on rocksdb, with correct recovered-state
    * output — the engine pins rather than fails). None inherits the
    * session conf; Some runs the query in a cloned session, caller's
    * conf untouched. Outputs are provider-independent (spec-pinned
    * hdfs == rocksdb).
    *
    * `onProgress` receives the query's FULL progress trace after the
    * drive finishes — batch counts / state sizes / watermark for
    * operational regression guards (StreamingSpec); default no-op.
    * Collected via a listener ([[driveCollectingProgress]]), not
    * `recentProgress`, which caps at 100 entries and would truncate a
    * backfill of >100 micro-batches. */
  def asofJoinStreamFiles(spark: org.apache.spark.sql.SparkSession,
                          leftDir: String, rightDir: String,
                          checkpointDir: String, outputDir: String,
                          delay: String = "10 minutes",
                          maxFilesPerTrigger: Int = 1,
                          rightRetentionMinutes: Option[Int] = None,
                          validateRights: Boolean = true,
                          payloadCodec: String = "json",
                          statePartitions: Option[Int] = None,
                          stateStoreProvider: Option[String] = None,
                          onProgress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] => Unit =
                            _ => ()): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val sess = tunedSession(spark, statePartitions, stateStoreProvider)
    def src(dir: String) = {
      val schema = sess.read.parquet(dir).schema
      normalizeEventTime(
        sess.readStream.schema(schema)
          .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(dir),
        "ts")
        .withWatermark("ts", delay)
    }
    val joined = asofJoinStream(src(leftDir), src(rightDir), rightRetentionMinutes,
      validateRights, payloadCodec)
    val trace = driveCollectingProgress(sess.streams,
      joined
        .writeStream.format("parquet")
        .option("path", outputDir)
        .outputMode("append")
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start())
    onProgress(trace)
    // explicit schema: a drive whose every left stayed pending writes no
    // data files, and the sink's _spark_metadata alone cannot infer one —
    // the streaming frame's OWN schema is by construction the sink schema
    spark.read.schema(joined.schema).parquet(outputDir)
  }

  /** Per-user session windows: events within `gapMinutes` of the previous
    * event share a session (classic gaps-and-islands via a lag + running
    * sum — one shuffle on user_id). Batch analogue of
    * `session_window(ts, gap)`; kept explicit so the semantics are
    * oracle-checkable in ANSI SQL. */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // sessions need a non-null (user, event time): a null user_id is
    // not an identity (SQL: null = null is unknown) and a null ts has
    // no position in the gap arithmetic — both would otherwise form
    // phantom sessions (Spark windows group null keys; null ts sorts
    // first and date-diffs to null). Dropped, per the event-time
    // contract (hostile-events replay finding).
    val clean = events.filter(col("user_id").isNotNull && col("ts").isNotNull)
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    // Gap in whole seconds (timestamp→long floors to epoch seconds,
    // matching the oracle's date_diff('second',...) truncation); normTs
    // first because Spark 4 rejects cast-to-numeric on TIMESTAMP_NTZ.
    val newSession = when(
      normTs(col("ts")).cast("long") -
        lag(normTs(col("ts")), 1).over(byUser).cast("long") > gapMinutes * 60L, 1)
      .otherwise(0)
    clean
      .withColumn("_new", newSession)
      .withColumn("session_id",
        sum(when(lag(col("ts"), 1).over(byUser).isNull, 1).otherwise(col("_new")))
          .over(byUser))
      .groupBy("user_id", "session_id")
      .agg(
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        count(lit(1)).as("n_events"))
  }
}
