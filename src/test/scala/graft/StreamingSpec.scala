package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** The Structured Streaming contract: the SAME declarative transform
  * produces identical results on a batch DataFrame and on a stream —
  * verified here with MemoryStream micro-batches. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    (1L, ts("2026-01-01 10:05:00"), 100L, "click", 1.0),
    (2L, ts("2026-01-01 10:40:00"), 100L, "click", 2.0),
    (3L, ts("2026-01-01 11:10:00"), 200L, "view", 3.0),
    (4L, ts("2026-01-01 11:59:00"), 100L, "click", 0.5),
    (5L, ts("2026-01-01 13:00:00"), 200L, "view", 9.0))

  private def batchDf = rows
    .toDF("event_id", "ts", "user_id", "event_type", "value")

  test("tumblingStats on stream == tumblingStats on batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "10 minutes")
    val q = StreamOps.tumblingStats(streamDf)
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    try {
      mem.addData(rows.take(3))
      q.processAllAvailable()
      mem.addData(rows.drop(3)) // second micro-batch updates state
      q.processAllAvailable()
      val streamed = spark.table("tumbling")
        .orderBy("window_start", "event_type").collect().toSeq
      val batch = StreamOps.tumblingStats(batchDf)
        .orderBy("window_start", "event_type").collect().toSeq
      assert(streamed == batch)
      // sanity on content: 10:00 window has 2 clicks
      val first = streamed.head
      assert(first.getString(0) == "2026-01-01 10:00:00" &&
        first.getLong(2) == 2L)
    } finally q.stop()
  }

  test("watermark drops late events in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "10 minutes")
    val q = StreamOps.tumblingStats(streamDf)
      .writeStream.format("memory").queryName("wm_append")
      .outputMode("append").start()
    try {
      // window 10:00-11:00 has one event; then the watermark advances
      // far past 11:10 (13:00 - 10m), closing that window
      mem.addData((1L, ts("2026-01-01 10:05:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      mem.addData((2L, ts("2026-01-01 13:00:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      // a late event for the CLOSED window must be dropped
      mem.addData((3L, ts("2026-01-01 10:20:00"), 1L, "click", 99.0))
      q.processAllAvailable()
      mem.addData((4L, ts("2026-01-01 15:00:00"), 1L, "click", 1.0))
      q.processAllAvailable() // advance watermark so 13:00 window emits
      val out = spark.table("wm_append")
        .orderBy("window_start")
        .as[(String, String, Long, Long, Double, Double)].collect()
      val w10 = out.find(_._1 == "2026-01-01 10:00:00").get
      assert(w10._3 == 1L, "late event must not be counted")
      assert(w10._6 == 1.0, "late event's value must not appear")
    } finally q.stop()
  }

  test("slidingCounts on stream == slidingCounts on batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "10 minutes")
    val q = StreamOps.slidingCounts(streamDf)
      .writeStream.format("memory").queryName("sliding")
      .outputMode("complete").start()
    try {
      mem.addData(rows.take(2))
      q.processAllAvailable()
      mem.addData(rows.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("sliding")
        .orderBy("window_start", "event_type").collect().toSeq
      val batch = StreamOps.slidingCounts(batchDf)
        .orderBy("window_start", "event_type").collect().toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("slidingCounts: each event lands in width/slide windows") {
    val out = StreamOps.slidingCounts(batchDf, "1 hour", "30 minutes")
      .orderBy("window_start", "event_type")
      .as[(String, String, Long)].collect()
    // event at 10:05 -> windows starting 09:30 and 10:00
    assert(out.contains(("2026-01-01 09:30:00", "click", 1L)))
    assert(out.contains(("2026-01-01 10:00:00", "click", 2L)))
    // total (event, window) incidences = 2x events
    assert(out.map(_._3).sum == rows.size * 2)
  }

  test("intervalJoin runs as a stream-stream join with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val vMem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val cMem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def named(m: MemoryStream[(Long, Timestamp, Long, String, Double)]) =
      m.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
        .withWatermark("ts", "10 minutes")
    val q = StreamOps.intervalJoin(named(vMem), named(cMem), withinMinutes = 30)
      .writeStream.format("memory").queryName("attribution")
      .outputMode("append").start()
    try {
      // view at 10:00 (user 1); clicks at 10:10 (in window) and 11:30 (out)
      vMem.addData((1L, ts("2026-01-01 10:00:00"), 1L, "view", 0.0))
      cMem.addData((2L, ts("2026-01-01 10:10:00"), 1L, "click", 0.0))
      q.processAllAvailable()
      cMem.addData((3L, ts("2026-01-01 11:30:00"), 1L, "click", 0.0))
      // advance both watermarks so results emit
      vMem.addData((8L, ts("2026-01-01 13:00:00"), 9L, "view", 0.0))
      cMem.addData((9L, ts("2026-01-01 13:00:00"), 9L, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("attribution")
        .select("view_id", "click_id").as[(Long, Long)].collect().toSet
      assert(got.contains((1L, 2L)), "click within 30min joins its view")
      assert(!got.contains((1L, 3L)), "click past the interval bound does not")
      // streamed results == the batch form on the union of inputs
      val allV = Seq((1L, ts("2026-01-01 10:00:00"), 1L, "view", 0.0),
        (8L, ts("2026-01-01 13:00:00"), 9L, "view", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val allC = Seq((2L, ts("2026-01-01 10:10:00"), 1L, "click", 0.0),
        (3L, ts("2026-01-01 11:30:00"), 1L, "click", 0.0),
        (9L, ts("2026-01-01 13:00:00"), 9L, "click", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val batch = StreamOps.intervalJoin(allV, allC, 30)
        .select("view_id", "click_id").as[(Long, Long)].collect().toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("sessionize matches Spark's built-in session_window aggregation") {
    val builtin = batchDf
      .groupBy($"user_id", session_window($"ts", "60 minutes").as("w"))
      .count()
      .select($"user_id", $"count")
      .orderBy($"user_id", $"w.start")
      .as[(Long, Long)].collect().toSeq
    val ours = StreamOps.sessionize(batchDf, gapMinutes = 60)
      .orderBy("user_id", "session_id")
      .select($"user_id", $"n_events")
      .as[(Long, Long)].collect().toSeq
    assert(ours == builtin)
  }

  test("userActivity keeps running per-user state via flatMapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "10 minutes")
    val q = StreamOps.userActivity(streamDf)
      .writeStream.format("memory").queryName("user_activity")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*) // state carries across micro-batches
      q.processAllAvailable()
      val out = spark.table("user_activity")
        .as[(Long, Long, Double)].collect().toSeq
      // last emission per user reflects the full history
      val latest = out.groupBy(_._1).map { case (u, es) => u -> es.maxBy(_._2) }
      assert(latest(100L) == ((100L, 3L, 0.5)), "user 100: 3 events, last value 0.5")
      assert(latest(200L) == ((200L, 2L, 9.0)), "user 200: 2 events, last value 9.0")
    } finally q.stop()
  }

  test("BatchFiles.write clears STALE bNN files from a prior wider run — a " +
       "re-run with fewer splits must not leave extra replay batches") {
    // review finding: only the overwritten b00..bNN survived a re-run;
    // stale higher-numbered files from a wider prior run kept NEWER
    // mtimes than the fresh splits and would replay LAST, duplicating
    // and reordering an AvailableNow drive
    import graft.streaming.BatchFiles
    val dir = java.nio.file.Files.createTempDirectory("graft-bf-stale").toString
    val df = (1 to 10).map(i => (i.toLong, i)).toDF("v", "k")
    BatchFiles.write(df, dir, "k", splits = 4)
    BatchFiles.write(df, dir, "k", splits = 2)
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.matches("b\\d\\d\\.parquet")).sorted.toSeq
    assert(files == Seq("b00.parquet", "b01.parquet"), s"stale splits survived: $files")
    assert(spark.read.parquet(s"$dir/*.parquet").count() == 10,
      "row count doubled — stale batches still readable")
  }

  test("userActivity: a LATE in-watermark event neither overwrites a newer " +
       "last_value nor re-arms the idle timeout earlier") {
    // review finding: the timeout was armed from only the current
    // batch's max event time, so a late batch moved expiry BACKWARDS
    // (profile dropped before idleMinutes of event-time inactivity),
    // and the arrival-order fold let the late OLDER value overwrite
    // last_value. Drive: event at 10:00, then a late 9:30 event
    // (watermark 9:00 — in-watermark), then advance the watermark past
    // the WRONG expiry (11:30 = 9:30+120m) but short of the right one
    // (12:00): the profile must still be alive with last_value from
    // 10:00, count 2 — then counting the 11:20 prober as its 3rd event.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val q = StreamOps.userActivity(
        mem.toDF().toDF("user_id", "ts", "value")
          .withWatermark("ts", "60 minutes"), idleMinutes = 120)
      .writeStream.format("memory").queryName("ua_late")
      .outputMode("append").start()
    try {
      mem.addData((7L, ts("2026-01-01 10:00:00"), 1.0))
      q.processAllAvailable() // watermark -> 9:00
      mem.addData((7L, ts("2026-01-01 09:30:00"), 99.0)) // late, in-watermark
      q.processAllAvailable()
      val afterLate = spark.table("ua_late")
        .as[(Long, Long, Double)].collect().toSeq.maxBy(_._2)
      assert(afterLate == ((7L, 2L, 1.0)),
        s"late older event counted but must not take last_value: $afterLate")
      // advance the watermark to 11:40 via another user: past the wrong
      // 11:30 expiry, short of the correct 12:00 one
      mem.addData((8L, ts("2026-01-01 12:40:00"), 0.0))
      q.processAllAvailable()
      mem.addData((7L, ts("2026-01-01 12:41:00"), 5.0)) // prober
      q.processAllAvailable()
      val last7 = spark.table("ua_late").filter(col("user_id") === 7L)
        .as[(Long, Long, Double)].collect().toSeq.maxBy(_._2)
      assert(last7 == ((7L, 3L, 5.0)),
        s"state expired early (count restarted) — the late event moved the timeout backwards: $last7")
      // equal-ts tie ACROSS batches: a later batch's SMALLER value at
      // the stored last ts must not steal last_value (the max-(ts,
      // value) rule is batch-boundary-independent; review finding: a
      // bare arrival-order >= let it win)
      mem.addData((7L, ts("2026-01-01 12:41:00"), 2.0))
      q.processAllAvailable()
      val tied = spark.table("ua_late").filter(col("user_id") === 7L)
        .as[(Long, Long, Double)].collect().toSeq.maxBy(_._2)
      assert(tied == ((7L, 4L, 5.0)),
        s"equal-ts smaller value from a later batch stole last_value: $tied")
    } finally q.stop()
  }

  test("asofJoin picks the latest right row at-or-before each left row, per key") {
    val clicks = Seq(
      (100L, 10L, ts("2026-01-01 10:30:00")),
      (100L, 11L, ts("2026-01-01 12:00:00")),
      (200L, 12L, ts("2026-01-01 09:00:00"))) // before any view -> null
      .toDF("user_id", "click_id", "ts")
    val views = Seq(
      (100L, 1L, ts("2026-01-01 10:00:00")),
      (100L, 2L, ts("2026-01-01 10:30:00")), // equal ts: <= holds, matches
      (100L, 3L, ts("2026-01-01 11:00:00")),
      (200L, 4L, ts("2026-01-01 10:00:00")))
      .toDF("user_id", "view_id", "ts")
    val r = StreamOps.asofJoin(clicks, views, Seq("user_id"), "ts", "ts",
        Map("view_id" -> "view_id"))
      .select("user_id", "click_id", "view_id")
      .as[(Long, Long, Option[Long])].collect().sortBy(_._2)
    assert(r(0) == ((100L, 10L, Some(2L))), "equal-ts view wins over the earlier one")
    assert(r(1) == ((100L, 11L, Some(3L))), "latest prior view, not the first")
    assert(r(2) == ((200L, 12L, None)), "no prior view -> null (left join)")
  }

  test("asofJoin: left payload passes through; right payload renames") {
    val left = Seq((1L, "a", ts("2026-01-01 10:00:00")))
      .toDF("k", "payload", "ts")
    val right = Seq((1L, 7.5, ts("2026-01-01 09:00:00")))
      .toDF("k", "price", "ts")
    val r = StreamOps.asofJoin(left, right, Seq("k"), "ts", "ts",
        Map("price" -> "last_price"))
    assert(r.columns.toSeq == Seq("k", "payload", "ts", "last_price"))
    val row = r.as[(Long, String, Timestamp, Double)].collect().head
    assert(row == ((1L, "a", ts("2026-01-01 10:00:00"), 7.5)))
  }

  test("asofJoin: duplicate right rows per (keys, ts) fail loudly by default; " +
       "validateRights=false opts back into payload-order resolution") {
    val left = Seq((1L, 10L, ts("2026-01-01 10:30:00"))).toDF("k", "click_id", "ts")
    val dupRight = Seq(
      (1L, 1L, ts("2026-01-01 10:00:00")),
      (1L, 2L, ts("2026-01-01 10:00:00")), // the duplicate (k, ts) pair
      (1L, 3L, ts("2026-01-01 09:00:00")))
      .toDF("k", "view_id", "ts")
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    val e = intercept[Exception] {
      StreamOps.asofJoin(left, dupRight, Seq("k"), "ts", "ts",
        Map("view_id" -> "view_id")).collect()
    }
    val msgs = chain(e)
    assert(msgs.exists(_.contains("duplicate right rows per (keys, ts)")),
      s"expected the loud duplicate error, got: $msgs")
    assert(msgs.exists(m => m.contains("key=(1)") && m.contains("2026-01-01 10:00:00")),
      s"error must name the offending key and instant, got: $msgs")
    // opt-out: resolves — to ONE of the duplicate pair (which one is the
    // documented undefined-ness the default now refuses to ship)
    val r = StreamOps.asofJoin(left, dupRight, Seq("k"), "ts", "ts",
        Map("view_id" -> "view_id"), validateRights = false)
      .select("view_id").as[Option[Long]].collect()
    assert(r.length == 1 && r.head.exists(Set(1L, 2L)), s"got ${r.toSeq}")
    // duplicate LEFTS are legal (each left resolves independently) and
    // must not trip the right-side check
    val dupLeft = Seq((1L, 10L, ts("2026-01-01 10:30:00")),
      (1L, 11L, ts("2026-01-01 10:30:00"))).toDF("k", "click_id", "ts")
    val ok = StreamOps.asofJoin(dupLeft,
        Seq((1L, 1L, ts("2026-01-01 10:00:00"))).toDF("k", "view_id", "ts"),
        Seq("k"), "ts", "ts", Map("view_id" -> "view_id"))
      .select("click_id", "view_id").as[(Long, Option[Long])].collect().sortBy(_._1)
    assert(ok.toSeq == Seq((10L, Some(1L)), (11L, Some(1L))))
  }

  test("asofJoinStream: a duplicate right per (key, ts) fails the query loudly; " +
       "validateRights=false resolves by payload order") {
    implicit val sqlCtx = spark.sqlContext
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    def drive(validate: Boolean, name: String): Either[Seq[String], Seq[(Long, Long, Option[Long])]] = {
      val lMem = MemoryStream[(Long, Timestamp, Long)]
      val rMem = MemoryStream[(Long, Timestamp, Long)]
      def named(m: MemoryStream[(Long, Timestamp, Long)]) =
        m.toDF().toDF("key", "ts", "id").withWatermark("ts", "10 minutes")
      val q = StreamOps.asofJoinStream(named(lMem), named(rMem),
          validateRights = validate)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // batch 1: the duplicate pair, buffered above the watermark
        rMem.addData((1L, ts("2026-01-01 10:00:00"), 1L),
          (1L, ts("2026-01-01 10:00:00"), 2L))
        lMem.addData((1L, ts("2026-01-01 10:30:00"), 100L))
        q.processAllAvailable()
        // batch 2: advance both inputs' watermarks past the left
        rMem.addData((9L, ts("2026-01-01 11:00:00"), 9L))
        lMem.addData((9L, ts("2026-01-01 11:00:00"), 999L))
        q.processAllAvailable()
        Right(spark.table(name)
          .as[(Long, Long, Timestamp, Option[Long], Option[Timestamp])]
          .collect().toSeq.map(x => (x._1, x._2, x._4)).sortBy(_._2))
      } catch { case t: Throwable => Left(chain(t)) }
      finally q.stop()
    }
    drive(validate = true, "asof_dup_loud") match {
      case Left(msgs) =>
        assert(msgs.exists(_.contains("duplicate right rows per (key, ts)")),
          s"expected the loud duplicate error, got: $msgs")
        assert(msgs.exists(m => m.contains("key=1") && m.contains("2026-01-01 10:00:00")),
          s"error must name the offending key and instant, got: $msgs")
      case Right(out) => fail(s"duplicate right must fail the query, emitted $out")
    }
    // opt-out: equal-(key, ts) right ties resolve by payload-string
    // order — {"id":2} > {"id":1}, deterministic for this fixture
    drive(validate = false, "asof_dup_optout") match {
      case Left(msgs) => fail(s"validateRights=false must not fail: $msgs")
      case Right(out) =>
        assert(out.head == ((1L, 100L, Some(2L))), s"got $out")
    }
  }

  test("trailingStats: row-anchored range frame, inclusive at exactly the horizon") {
    val e = Seq(
      (1L, ts("2026-01-01 10:00:00"), 100L, "view", 5.0),
      (2L, ts("2026-01-01 10:20:00"), 100L, "view", 2.0),
      (3L, ts("2026-01-01 10:45:00"), 100L, "view", 1.0),
      (4L, ts("2026-01-01 10:30:00"), 200L, "view", 7.0)) // exactly 30m after nothing
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = StreamOps.trailingStats(e, minutes = 30)
      .select("event_id", "n_trailing", "max_value_trailing")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(r(0) == ((1L, 1L, 5.0)))
    assert(r(1) == ((2L, 2L, 5.0)), "10:20 sees 10:00 (within 30m)")
    assert(r(2) == ((3L, 2L, 2.0)), "10:45 sees 10:20 but NOT 10:00 (45m ago)")
    assert(r(3) == ((4L, 1L, 7.0)), "other user isolated")
    // boundary: exactly `minutes` apart is INCLUDED (closed frame)
    val b = Seq(
      (1L, ts("2026-01-01 10:00:00"), 1L, "view", 9.0),
      (2L, ts("2026-01-01 10:30:00"), 1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val rb = StreamOps.trailingStats(b, minutes = 30)
      .select("event_id", "n_trailing").as[(Long, Long)].collect().sortBy(_._1)
    assert(rb(1) == ((2L, 2L)), "closed lower bound at exactly 30 minutes")
  }

  test("asofJoinStream buffers until the watermark: cross-batch out-of-order right still wins") {
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[(Long, Timestamp, Long)]
    val rMem = MemoryStream[(Long, Timestamp, Long)]
    def named(m: MemoryStream[(Long, Timestamp, Long)]) =
      m.toDF().toDF("key", "ts", "id").withWatermark("ts", "10 minutes")
    val q = StreamOps.asofJoinStream(named(lMem), named(rMem))
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      // batch 1: the left row arrives FIRST; an early right exists
      lMem.addData((1L, ts("2026-01-01 10:30:00"), 100L))
      rMem.addData((1L, ts("2026-01-01 10:00:00"), 1L))
      q.processAllAvailable()
      assert(spark.table("asof_stream").count() == 0,
        "left must NOT resolve before the watermark passes it")
      // batch 2: a BETTER right for the same left arrives later (out of
      // order across batches, still below the left's ts) + a left with
      // no right at all. High-ts rows go to BOTH inputs: the global
      // watermark is the MIN of the per-input watermarks, so each side
      // must advance for anything to ripen (the multi-input contract).
      rMem.addData((1L, ts("2026-01-01 10:25:00"), 2L),
        (2L, ts("2026-01-01 11:00:00"), 9L))
      lMem.addData((3L, ts("2026-01-01 10:40:00"), 300L),
        (99L, ts("2026-01-01 11:00:00"), 999L))
      q.processAllAvailable()
      val out = spark.table("asof_stream")
        .as[(Long, Long, Timestamp, Option[Long], Option[Timestamp])]
        .collect().sortBy(_._2)
      assert(out.map(x => (x._1, x._2, x._4)).toSeq ==
        Seq((1L, 100L, Some(2L)), (3L, 300L, None)),
        s"got ${out.toSeq}")
      assert(out(0)._5.contains(ts("2026-01-01 10:25:00")),
        "the late-arriving 10:25 view wins over the batch-1 10:00 one")
    } finally q.stop()
  }

  test("asofJoinStream: null-key / null-ts rows are dropped, not query-killers") {
    // hostile-events replay finding: a single null-ts row NPE'd the
    // state handler and PERMANENTLY killed the query — one corrupt row
    // must never take down a production stream
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[(Option[Long], Option[Timestamp], Long)]
    val rMem = MemoryStream[(Option[Long], Option[Timestamp], Long)]
    def named(m: MemoryStream[(Option[Long], Option[Timestamp], Long)]) =
      m.toDF().toDF("key", "ts", "id").withWatermark("ts", "10 minutes")
    val q = StreamOps.asofJoinStream(named(lMem), named(rMem))
      .writeStream.format("memory").queryName("asof_nulls")
      .outputMode("append").start()
    try {
      rMem.addData(
        (Some(1L), Some(ts("2026-01-01 10:00:00")), 1L),
        (None, Some(ts("2026-01-01 10:01:00")), 66L), // null key
        (Some(1L), None, 77L)) // null ts
      lMem.addData(
        (Some(1L), Some(ts("2026-01-01 10:30:00")), 100L),
        (None, Some(ts("2026-01-01 10:30:00")), 200L),
        (Some(1L), None, 300L))
      q.processAllAvailable()
      // ripen left 100: advance both inputs' watermarks past 10:30
      rMem.addData((Some(9L), Some(ts("2026-01-01 11:00:00")), 9L))
      lMem.addData((Some(9L), Some(ts("2026-01-01 11:00:00")), 900L))
      q.processAllAvailable()
      val out = spark.table("asof_nulls")
        .as[(Long, Long, Timestamp, Option[Long], Option[Timestamp])]
        .collect().toSeq.sortBy(_._2)
      assert(out.map(x => (x._1, x._2, x._4)) == Seq((1L, 100L, Some(1L))),
        s"null-key/ts rows must vanish (no crash, no match, no emit): $out")
    } finally q.stop()
  }

  test("asofJoinStream == batch asofJoin on seeded RANDOM streams with " +
       "within-watermark arrival disorder") {
    // The fixture specs pin hand-picked timelines; this pins the state
    // machine's GENERAL case: random keys/timestamps split into 4
    // time-sliced arrival batches, with a seeded subset of rows moved
    // one batch EARLY. Construction keeps every row inside the
    // watermark envelope — moves are allowed only from the first 601 s
    // of a GLOBAL time slice, so any moved row's watermark contribution
    // (ts - 601 s) stays below every later-arriving row on BOTH sides:
    // nothing is ever late, and the streamed output must equal the
    // batch asofJoin on the watermark-ripe lefts exactly. Rights sit on
    // whole minutes, lefts at :17 past, delay 601 s — no row's ts can
    // ever EQUAL a watermark value, so <=-vs-< boundary and timeout
    // strictness cannot make the comparison flaky.
    import PropGen.int
    implicit val sqlCtx = spark.sqlContext
    val t0 = ts("2026-01-01 10:00:00").getTime
    val keys = Seq(1L, 2L, 3L)
    // rights: 10 DISTINCT whole minutes per key out of 0..119
    val rights: Seq[(Long, Timestamp, Long)] = keys.flatMap { k =>
      (0 until 120).sortBy(m => int(31000L + 1000 * k + m, 0, 1 << 20))
        .take(10).zipWithIndex.map { case (m, i) =>
          (k, new Timestamp(t0 + m * 60000L), 1000L + 100 * k + i)
        }
    }
    // lefts: 10 per key at random minutes, +17 s phase; ids unique
    val lefts: Seq[(Long, Timestamp, Long)] = keys.flatMap { k =>
      (0 until 10).map { i =>
        val m = int(32000L + 1000 * k + i, 0, 119)
        (k, new Timestamp(t0 + m * 60000L + 17000L), 100 * k + i)
      }
    }
    // GLOBAL contiguous time slices (both sides pooled), then seeded
    // early moves from each slice's first 601 s
    val all = (lefts.map((_, true)) ++ rights.map((_, false)))
      .sortBy { case ((_, t, id), _) => (t.getTime, id) }
    val n = all.length
    val slice = all.zipWithIndex.map { case (row, idx) => (row, idx * 4 / n) }.toMap
    val sliceMin = slice.groupBy(_._2)
      .map { case (b, rs) => b -> rs.keys.map(_._1._2.getTime).min }
    val batchOf = all.map { case row @ ((_, t, id), _) =>
      val b = slice(row)
      val eligible = b > 0 && t.getTime < sliceMin(b) + 601000L
      val moved = eligible && int(33000L + id, 0, 9) < 5
      (row, if (moved) b - 1 else b, moved)
    }
    assert(batchOf.count(_._3) >= 3, "seed produced too few early moves")

    val lMem = MemoryStream[(Long, Timestamp, Long)]
    val rMem = MemoryStream[(Long, Timestamp, Long)]
    def named(m: MemoryStream[(Long, Timestamp, Long)]) =
      m.toDF().toDF("key", "ts", "id").withWatermark("ts", "601 seconds")
    val q = StreamOps.asofJoinStream(named(lMem), named(rMem))
      .writeStream.format("memory").queryName("asof_prop")
      .outputMode("append").start()
    try {
      (0 until 4).foreach { b =>
        val l = batchOf.collect { case ((row, isL), bb, _) if bb == b && isL => row }
        val r = batchOf.collect { case ((row, isL), bb, _) if bb == b && !isL => row }
        if (l.nonEmpty) { lMem.addData(l); () }
        if (r.nonEmpty) { rMem.addData(r); () }
        q.processAllAvailable()
      }
      val streamed = spark.table("asof_prop")
        .select("key", "left_id", "right_id")
        .as[(Long, Long, Option[Long])].collect().toSet
      val finalWm =
        math.min(lefts.map(_._2.getTime).max, rights.map(_._2.getTime).max) - 601000L
      val ripe = lefts.filter(_._2.getTime < finalWm)
      val expected = StreamOps.asofJoin(
          ripe.toDF("key", "ts", "left_id"),
          rights.toDF("key", "ts", "right_id"),
          Seq("key"), "ts", "ts", Map("right_id" -> "right_id"))
        .select("key", "left_id", "right_id")
        .as[(Long, Long, Option[Long])].collect().toSet
      assert(streamed == expected,
        s"streamed diff: extra=${streamed -- expected} missing=${expected -- streamed}")
      // non-vacuity: matched lefts, no-right lefts, and pending lefts
      // all occur under this seed
      assert(streamed.exists(_._3.isDefined), "no left matched a right")
      assert(streamed.exists(_._3.isEmpty), "no left without an earlier right")
      assert(ripe.size < lefts.size, "no left stayed pending above the watermark")
    } finally q.stop()
  }

  test("intervalJoin streamed == intervalJoin batch on seeded RANDOM " +
       "streams (inner join emits eagerly; state outlives the envelope)") {
    // Same no-late construction as the asof property above, applied to
    // the stream-stream join: with every row inside the watermark
    // envelope, a click's join state is still alive whenever a
    // later-arriving view within the bound shows up (state evicts only
    // once the watermark passes the click), and inner joins emit on
    // match without holding for ripeness — so the streamed output must
    // equal the BATCH intervalJoin on the full input, row for row.
    import PropGen.int
    implicit val sqlCtx = spark.sqlContext
    val t0 = ts("2026-01-01 10:00:00").getTime
    val keys = Seq(1L, 2L, 3L)
    val views: Seq[(Long, Timestamp, Long)] = keys.flatMap { k =>
      (0 until 10).map { i =>
        val m = int(41000L + 1000 * k + i, 0, 119)
        (k, new Timestamp(t0 + m * 60000L), 1000L + 100 * k + i)
      }
    }
    val clicks: Seq[(Long, Timestamp, Long)] = keys.flatMap { k =>
      (0 until 10).map { i =>
        val m = int(42000L + 1000 * k + i, 0, 119)
        (k, new Timestamp(t0 + m * 60000L + 17000L), 100 * k + i)
      }
    }
    val all = (clicks.map((_, true)) ++ views.map((_, false)))
      .sortBy { case ((_, t, id), _) => (t.getTime, id) }
    val n = all.length
    val slice = all.zipWithIndex.map { case (row, idx) => (row, idx * 4 / n) }.toMap
    val sliceMin = slice.groupBy(_._2)
      .map { case (b, rs) => b -> rs.keys.map(_._1._2.getTime).min }
    val batchOf = all.map { case row @ ((_, t, id), _) =>
      val b = slice(row)
      val eligible = b > 0 && t.getTime < sliceMin(b) + 601000L
      (row, if (eligible && int(43000L + id, 0, 9) < 5) b - 1 else b)
    }
    val vMem = MemoryStream[(Long, Timestamp, Long)]
    val cMem = MemoryStream[(Long, Timestamp, Long)]
    def named(m: MemoryStream[(Long, Timestamp, Long)]) =
      m.toDF().toDF("user_id", "ts", "event_id").withWatermark("ts", "601 seconds")
    val q = StreamOps.intervalJoin(named(vMem), named(cMem), withinMinutes = 45)
      .writeStream.format("memory").queryName("ij_prop")
      .outputMode("append").start()
    try {
      (0 until 4).foreach { b =>
        val c = batchOf.collect { case ((row, isC), bb) if bb == b && isC => row }
        val v = batchOf.collect { case ((row, isC), bb) if bb == b && !isC => row }
        if (v.nonEmpty) { vMem.addData(v); () }
        if (c.nonEmpty) { cMem.addData(c); () }
        q.processAllAvailable()
      }
      val streamed = spark.table("ij_prop")
        .select("user_id", "view_id", "click_id")
        .as[(Long, Long, Long)].collect().toSet
      val batch = StreamOps.intervalJoin(
          views.toDF("user_id", "ts", "event_id"),
          clicks.toDF("user_id", "ts", "event_id"), withinMinutes = 45)
        .select("user_id", "view_id", "click_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"diff: extra=${streamed -- batch} missing=${batch -- streamed}")
      // non-vacuity: pairs exist, and some click pairs with >1 view
      assert(streamed.nonEmpty, "no pair formed under this seed")
      assert(streamed.groupBy(t => (t._1, t._3)).exists(_._2.size > 1),
        "no click matched multiple views")
    } finally q.stop()
  }

  test("userActivity == the per-batch fold model on seeded RANDOM streams") {
    // The third custom stateful operator under the random-arrival
    // harness: state is a per-user (count, last-value) fold over rows
    // sorted by (ts, value) WITHIN each micro-batch, emitted once per
    // (user, batch-with-data). The model replays exactly that contract
    // batch by batch. Same no-late construction; idleMinutes=120 over a
    // 120-minute event window means the idle timeout can never fire
    // (timeout_ts >= first event + 120 min > any reachable watermark),
    // so expiry doesn't enter the model.
    import PropGen.int
    implicit val sqlCtx = spark.sqlContext
    val t0 = ts("2026-01-01 10:00:00").getTime
    val events: Seq[(Long, Timestamp, Double)] = (0 until 60).map { i =>
      val user = 100L + int(51000L + i, 0, 3)
      val m = int(52000L + i, 0, 119)
      val v = int(53000L + i, -5, 5).toDouble
      (user, new Timestamp(t0 + m * 60000L + (i % 60) * 1000L), v)
    }
    val sorted = events.sortBy { case (_, t, v) => (t.getTime, v) }
    val n = sorted.length
    val batches: Seq[Seq[(Long, Timestamp, Double)]] =
      (0 until 4).map(b => sorted.zipWithIndex
        .collect { case (row, idx) if idx * 4 / n == b => row })

    val mem = MemoryStream[(Long, Timestamp, Double)]
    val q = StreamOps.userActivity(
        mem.toDF().toDF("user_id", "ts", "value")
          .withWatermark("ts", "601 seconds"), idleMinutes = 120)
      .writeStream.format("memory").queryName("ua_prop")
      .outputMode("append").start()
    try {
      batches.foreach { b =>
        if (b.nonEmpty) { mem.addData(b); () }
        q.processAllAvailable()
      }
      val streamed = spark.table("ua_prop")
        .as[(Long, Long, Double)].collect().toSet
      // model: fold each batch's per-user rows in (ts, value) order onto
      // the carried state; emit the post-batch state per active user
      val state = scala.collection.mutable.Map[Long, (Long, Double)]()
      val expected = scala.collection.mutable.Set[(Long, Long, Double)]()
      batches.foreach { b =>
        b.groupBy(_._1).foreach { case (user, rows) =>
          val ordered = rows.sortBy(r => (r._2.getTime, r._3))
          val (n0, _) = state.getOrElse(user, (0L, 0.0))
          val next = (n0 + ordered.length, ordered.last._3)
          state(user) = next
          expected += ((user, next._1, next._2))
        }
      }
      assert(streamed == expected.toSet,
        s"diff: extra=${streamed -- expected} missing=${expected.toSet -- streamed}")
      // non-vacuity: every user emits across MULTIPLE batches (the
      // carried-state path), and counts sum to the event count
      assert(expected.groupBy(_._1).forall(_._2.size > 1),
        "some user appeared in only one batch — no state carried")
      assert(state.values.map(_._1).sum == events.length.toLong)
    } finally q.stop()
  }

  test("sessionize and trailingStats accept TIMESTAMP_NTZ inputs (upstream type drift)") {
    // The r8 testdata regeneration shipped events.ts as parquet
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark TIMESTAMP_NTZ,
    // which rejects cast-to-numeric and unix_micros. These two operators
    // must survive that WITHOUT Tables.load's normalization (this frame
    // never passes through the loader).
    val ntz = batchDf.withColumn("ts",
      col("ts").cast(org.apache.spark.sql.types.TimestampNTZType))
    assert(ntz.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val sessLtz = StreamOps.sessionize(batchDf, gapMinutes = 60)
      .orderBy("user_id", "session_id").collect().toSeq
    val sessNtz = StreamOps.sessionize(ntz, gapMinutes = 60)
      .orderBy("user_id", "session_id").collect().toSeq
    assert(sessNtz == sessLtz, "NTZ input yields identical sessions (UTC session)")
    val trailLtz = StreamOps.trailingStats(batchDf, minutes = 30)
      .orderBy("user_id", "event_id").collect().toSeq
    val trailNtz = StreamOps.trailingStats(ntz, minutes = 30)
      .orderBy("user_id", "event_id").collect().toSeq
    assert(trailNtz == trailLtz, "NTZ input yields identical trailing stats")
    // the Timestamp-ENCODING operators must also survive NTZ (an
    // encoder for java.sql.Timestamp rejects a timestamp_ntz column at
    // analysis time without normalization): forcing .schema analyzes
    assert(StreamOps.userActivity(ntz).schema.fieldNames
      .contains("n_events"))
    val ntzKeyed = ntz.select(col("user_id").as("key"), col("ts"),
      col("event_id").as("id"))
    assert(StreamOps.asofJoinStream(ntzKeyed, ntzKeyed).schema.fieldNames
      .contains("left_id"))
  }

  test("asofJoinStream rightRetention: dormant rights age out below the watermark; default keeps them forever") {
    implicit val sqlCtx = spark.sqlContext
    // one timeline, two queries: key 1's only right (10:00) goes
    // dormant; by the time its 11:30 left ripens, the right is >30 min
    // below the watermark. With retention=30 the match is GONE (state
    // left the store at the dormant-key timeout); without retention the
    // as-of contract keeps it forever and the same left matches.
    def drive(retention: Option[Int]): (Set[(Long, Long, Option[Long])], Long) = {
      val lMem = MemoryStream[(Long, Timestamp, Long)]
      val rMem = MemoryStream[(Long, Timestamp, Long)]
      def named(m: MemoryStream[(Long, Timestamp, Long)]) =
        m.toDF().toDF("key", "ts", "id").withWatermark("ts", "10 minutes")
      val sink = "asof_ret_" + retention.map(_.toString).getOrElse("none")
      val q = StreamOps.asofJoinStream(named(lMem), named(rMem), retention)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        // batch 1: the subject right + both-side pushers (wm -> 10:00)
        rMem.addData((1L, ts("2026-01-01 10:00:00"), 1L),
          (9L, ts("2026-01-01 10:10:00"), 90L))
        lMem.addData((9L, ts("2026-01-01 10:10:00"), 91L))
        q.processAllAvailable()
        // batch 2: pushers only (wm -> 11:00): key 1 is dormant and its
        // right is now 60 min below the watermark
        rMem.addData((9L, ts("2026-01-01 11:10:00"), 92L))
        lMem.addData((9L, ts("2026-01-01 11:10:00"), 93L))
        q.processAllAvailable()
        // batch 3: the subject left at 11:30 (above wm 11:00 — not
        // late) + pushers to 12:40 (wm -> 12:30, left becomes ripe)
        lMem.addData((1L, ts("2026-01-01 11:30:00"), 100L),
          (9L, ts("2026-01-01 12:40:00"), 94L))
        rMem.addData((9L, ts("2026-01-01 12:40:00"), 95L))
        q.processAllAvailable()
        // batch 4: final pushers so the 11:30 left resolves (wm 12:30
        // already covers it; one more advance flushes timeouts)
        lMem.addData((9L, ts("2026-01-01 13:00:00"), 96L))
        rMem.addData((9L, ts("2026-01-01 13:00:00"), 97L))
        q.processAllAvailable()
        val rows = spark.table(sink).filter($"key" === 1L)
          .select("key", "left_id", "right_id")
          .as[(Long, Long, Option[Long])].collect().toSet
        val stateRows = Option(q.lastProgress)
          .flatMap(_.stateOperators.headOption).map(_.numRowsTotal).getOrElse(-1L)
        (rows, stateRows)
      } finally q.stop()
    }
    val (defMatches, defState) = drive(None)
    assert(defMatches == Set((1L, 100L, Some(1L))),
      "default: the 10:00 right is remembered forever and matches")
    assert(defState == 2L,
      "default: both keys stay in the store (key 1's right kept forever)")
    val (retMatches, retState) = drive(Some(30))
    assert(retMatches == Set((1L, 100L, None)),
      "retention=30: the dormant right expired below the watermark; no lookback past R")
    assert(retState == 1L,
      "retention=30: key 1 left the state store entirely; only the pusher key remains")
    // boundary: a retention wider than the whole timeline == no retention
    assert(drive(Some(600))._1 == defMatches,
      "a not-yet-elapsed retention changes nothing")
  }

  test("asofJoinStream generic payload: full rows == batch asofJoin on seeded " +
       "RANDOM streams (string/double/micros-timestamp columns, nulls included)") {
    // The r10 verdict's "genericize the payload" contract: arbitrary
    // left/right columns ride the keyed state and come back TYPED. Same
    // no-late arrival construction as the id-triple property above, but
    // every row carries (id, note:string-or-null, score:double,
    // tagged_at:timestamp-with-micros) and the assertion is FULL-ROW
    // equality against the batch asofJoin — pinning the JSON pack/unpack
    // round-trip (null fields, double precision, micros truncated by the
    // default millis format would fail here) and the column wiring.
    import PropGen.int
    implicit val sqlCtx = spark.sqlContext
    val t0 = ts("2026-01-01 10:00:00").getTime
    val keys = Seq(1L, 2L, 3L)
    def payload(id: Long): (String, Double, Timestamp) = {
      val note = if (int(51000L + id, 0, 3) == 0) null else s"n$id"
      val at = new Timestamp(t0 + id)      // millis offset
      at.setNanos(((id % 1000) * 1000).toInt) // + id micros: micros precision
      (note, id * 0.25 + 0.1, at)
    }
    val rights: Seq[(Long, Timestamp, Long, String, Double, Timestamp)] = keys.flatMap { k =>
      (0 until 120).sortBy(m => int(52000L + 1000 * k + m, 0, 1 << 20))
        .take(8).zipWithIndex.map { case (m, i) =>
          val id = 1000L + 100 * k + i
          val (note, score, at) = payload(id)
          (k, new Timestamp(t0 + m * 60000L), id, note, score, at)
        }
    }
    val lefts: Seq[(Long, Timestamp, Long, String, Double, Timestamp)] = keys.flatMap { k =>
      (0 until 8).map { i =>
        val m = int(53000L + 1000 * k + i, 0, 119)
        val id = 100 * k + i
        val (note, score, at) = payload(id)
        (k, new Timestamp(t0 + m * 60000L + 17000L), id, note, score, at)
      }
    }
    val lMem = MemoryStream[(Long, Timestamp, Long, String, Double, Timestamp)]
    val rMem = MemoryStream[(Long, Timestamp, Long, String, Double, Timestamp)]
    def named(m: MemoryStream[(Long, Timestamp, Long, String, Double, Timestamp)]) = m.toDF()
      .toDF("key", "ts", "id", "note", "score", "tagged_at")
      .withWatermark("ts", "601 seconds")
    val q = StreamOps.asofJoinStream(named(lMem), named(rMem))
      .writeStream.format("memory").queryName("asof_generic")
      .outputMode("append").start()
    try {
      // two arrival batches per side (cross-batch buffering exercised)
      val (l1, l2) = lefts.sortBy(r => (r._2.getTime, r._3)).splitAt(lefts.size / 2)
      val (r1, r2) = rights.sortBy(r => (r._2.getTime, r._3)).splitAt(rights.size / 2)
      lMem.addData(l1); rMem.addData(r1)
      q.processAllAvailable()
      lMem.addData(l2); rMem.addData(r2)
      q.processAllAvailable()
      val cols = Seq("key", "left_id", "left_note", "left_score", "left_tagged_at",
        "left_ts", "right_id", "right_note", "right_score", "right_tagged_at", "right_ts")
      assert(spark.table("asof_generic").columns.toSeq ==
        Seq("key", "left_id", "left_note", "left_score", "left_tagged_at", "left_ts",
          "right_id", "right_note", "right_score", "right_tagged_at", "right_ts"),
        s"output column order: ${spark.table("asof_generic").columns.toSeq}")
      val streamed = spark.table("asof_generic").select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
      val finalWm =
        math.min(lefts.map(_._2.getTime).max, rights.map(_._2.getTime).max) - 601000L
      val ripe = lefts.filter(_._2.getTime < finalWm)
      val expected = StreamOps.asofJoin(
          ripe.toDF("key", "ts", "left_id", "left_note", "left_score", "left_tagged_at"),
          rights.toDF("key", "ts", "right_id", "right_note", "right_score", "right_tagged_at"),
          Seq("key"), "ts", "ts",
          Map("right_id" -> "right_id", "right_note" -> "right_note",
            "right_score" -> "right_score", "right_tagged_at" -> "right_tagged_at",
            "ts" -> "right_ts"))
        .withColumnRenamed("ts", "left_ts")
        .select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
      assert(streamed == expected,
        s"full-row diff: extra=${streamed -- expected} missing=${expected -- streamed}")
      // non-vacuity: null notes, micros timestamps, and no-match lefts all occur
      assert(streamed.exists(_(2) == null), "no null left_note in the output")
      assert(streamed.exists(r => r(4) != null &&
        r(4).asInstanceOf[Timestamp].getNanos % 1000000 != 0),
        "no sub-millisecond tagged_at survived — micros lost in the payload round-trip")
      assert(streamed.exists(_(6) == null), "no left without an earlier right")
      assert(streamed.exists(_(6) != null), "no left matched a right")
    } finally q.stop()
  }

  test("asofJoinStream watermark-boundary contract: the engine drops a right " +
       "arriving AT the watermark instant, so at-watermark lefts resolve safely") {
    // Pins the engine behavior the operator's <= ripeness is tight
    // against: the flatMapGroupsWithState late filter drops rows with
    // ts <= watermark (EQUALITY dropped — if a future Spark admitted
    // the boundary row, this test fails and the ripeness comparison
    // must become strict). Timeline: batch 1 leaves the 11:00:00 left
    // pending at wm == 11:00:00 exactly; batch 2 offers a right AT
    // 11:00:00 in its own batch — the engine must drop it; the left
    // then resolves with NO match, which is correct precisely because
    // no at-or-below-watermark right can ever be admitted.
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[(Long, Timestamp, Long)]
    val rMem = MemoryStream[(Long, Timestamp, Long)]
    def named(m: MemoryStream[(Long, Timestamp, Long)]) =
      m.toDF().toDF("key", "ts", "id").withWatermark("ts", "10 minutes")
    val q = StreamOps.asofJoinStream(named(lMem), named(rMem))
      .writeStream.format("memory").queryName("asof_boundary")
      .outputMode("append").start()
    try {
      lMem.addData((1L, ts("2026-01-01 11:00:00"), 100L),
        (9L, ts("2026-01-01 11:10:00"), 90L))
      rMem.addData((9L, ts("2026-01-01 11:10:00"), 91L))
      q.processAllAvailable() // wm = 11:10 - 10min = 11:00:00 exactly
      // the boundary right rides its OWN batch so no pusher can advance
      // the watermark underneath it in a preceding micro-batch
      rMem.addData((1L, ts("2026-01-01 11:00:00"), 7L)) // ts == wm
      q.processAllAvailable()
      // sum across batches so far: an engine-inserted idle batch after
      // the drop would make lastProgress read 0 and flake the pin
      val droppedSoFar = q.recentProgress
        .flatMap(_.stateOperators.headOption)
        .map(_.numRowsDroppedByWatermark).sum
      rMem.addData((9L, ts("2026-01-01 11:30:00"), 92L))
      lMem.addData((9L, ts("2026-01-01 11:30:00"), 93L))
      q.processAllAvailable()
      lMem.addData((9L, ts("2026-01-01 12:00:00"), 94L))
      rMem.addData((9L, ts("2026-01-01 12:00:00"), 95L))
      q.processAllAvailable()
      val out = spark.table("asof_boundary").filter(col("key") === 1L)
        .select("left_id", "right_id").as[(Long, Option[Long])].collect().toSeq
      assert(droppedSoFar == 1L,
        s"the engine must drop the ts == watermark right as late (dropped=$droppedSoFar)")
      assert(out == Seq((100L, None)),
        s"at-watermark left resolves with no match — the boundary right was never admissible: $out")
    } finally q.stop()
  }

  test("asofJoinStream generic payload round-trips NESTED types (array + struct columns)") {
    // backs the scaladoc claim that any to_json/from_json-expressible
    // payload works: array<string> and struct<a:long,b:string> columns
    // ride the keyed state and come back typed, element order intact
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[(Long, Timestamp, Long)]
    val rMem = MemoryStream[(Long, Timestamp, Long)]
    def enrich(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("tags", array(concat(lit("t"), col("id")), lit("x")))
      .withColumn("meta", struct(col("id").as("a"), concat(lit("m"), col("id")).as("b")))
    def named(m: MemoryStream[(Long, Timestamp, Long)]) =
      enrich(m.toDF().toDF("key", "ts", "id")).withWatermark("ts", "10 minutes")
    val q = StreamOps.asofJoinStream(named(lMem), named(rMem))
      .writeStream.format("memory").queryName("asof_nested")
      .outputMode("append").start()
    try {
      lMem.addData((1L, ts("2026-01-01 10:30:00"), 100L))
      rMem.addData((1L, ts("2026-01-01 10:00:00"), 7L))
      lMem.addData((9L, ts("2026-01-01 12:00:00"), 90L))
      rMem.addData((9L, ts("2026-01-01 12:00:00"), 91L))
      q.processAllAvailable()
      lMem.addData((9L, ts("2026-01-01 13:00:00"), 92L))
      rMem.addData((9L, ts("2026-01-01 13:00:00"), 93L))
      q.processAllAvailable()
      val row = spark.table("asof_nested").filter(col("key") === 1L)
        .select("left_id", "left_tags", "left_meta.a", "left_meta.b",
          "right_id", "right_tags", "right_meta.b")
        .collect().head
      assert(row.getLong(0) == 100L)
      assert(row.getSeq[String](1) == Seq("t100", "x"), s"left_tags=${row.getSeq[String](1)}")
      assert(row.getLong(2) == 100L && row.getString(3) == "m100")
      assert(row.getLong(4) == 7L)
      assert(row.getSeq[String](5) == Seq("t7", "x"))
      assert(row.getString(6) == "m7")
    } finally q.stop()
  }

  test("asofJoinStream payloadCodec=binary == json on nested payloads with " +
       "null fields and sub-ms timestamps (the StructCodec contract)") {
    // The binary codec packs payloads as UnsafeRow bytes instead of
    // JSON text. Pin output EQUALITY against the JSON drive on the
    // hard corners: nested array + struct columns, a null payload
    // field (null-bitmap path), a microsecond-precision timestamp
    // payload (where the JSON codec needs its explicit format), and a
    // no-match left (null right payload end to end).
    implicit val sqlCtx = spark.sqlContext
    def us(base: String, micros: Int): Timestamp = {
      val t = ts(base); t.setNanos(micros * 1000); t
    }
    def drive(codec: String, name: String): Seq[org.apache.spark.sql.Row] = {
      val lMem = MemoryStream[(Long, Timestamp, Long)]
      val rMem = MemoryStream[(Long, Timestamp, Long)]
      def enrich(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("tags", array(concat(lit("t"), col("id")), lit("x")))
        .withColumn("meta", struct(col("id").as("a"), concat(lit("m"), col("id")).as("b")))
        .withColumn("maybe", when(col("id") % 2 === 1, concat(lit("v"), col("id"))))
        .withColumn("seen", timestamp_micros(col("id") * 1000001L))
      def named(m: MemoryStream[(Long, Timestamp, Long)]) =
        enrich(m.toDF().toDF("key", "ts", "id")).withWatermark("ts", "10 minutes")
      val q = StreamOps.asofJoinStream(named(lMem), named(rMem),
          payloadCodec = codec)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        lMem.addData((1L, us("2026-01-01 10:30:00", 500), 100L),
          (1L, ts("2026-01-01 10:40:00"), 101L),
          (2L, ts("2026-01-01 10:20:00"), 201L)) // no right at all -> null side
        rMem.addData((1L, us("2026-01-01 10:00:00", 250), 7L))
        q.processAllAvailable()
        lMem.addData((9L, ts("2026-01-01 12:00:00"), 90L))
        rMem.addData((9L, ts("2026-01-01 12:00:00"), 91L))
        q.processAllAvailable()
        spark.table(name).orderBy("key", "left_id").collect().toSeq
      } finally q.stop()
    }
    val json = drive("json", "asof_codec_json")
    val bin = drive("binary", "asof_codec_bin")
    assert(json.nonEmpty, "drive emitted nothing — the comparison is vacuous")
    assert(bin == json, s"binary codec diverged:\n  bin=$bin\n  json=$json")
    // and the rows are the RIGHT rows (guard against equal-but-wrong)
    val r100 = json.find(_.getAs[Long]("left_id") == 100L).get
    assert(r100.getAs[Long]("right_id") == 7L)
    assert(r100.getAs[String]("left_maybe") == null, "even id -> null payload field")
    assert(r100.getAs[String]("right_maybe") == "v7")
    assert(r100.getAs[Timestamp]("right_seen") == timestampOfMicros(7L * 1000001L))
    val r201 = json.find(_.getAs[Long]("left_id") == 201L).get
    assert(r201.isNullAt(r201.fieldIndex("right_id")), "no-match right payload null")
  }

  private def timestampOfMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  test("asofJoinStream keys state at MICROSECOND precision: a right 500us " +
       "after the left must not match (ms truncation would let it)") {
    // getTime-keyed state truncates to ms: a right at ...000800us and a
    // left at ...000300us collapse to the same key and match — the batch
    // asofJoin (full micros) says no match. Pin the boundary both ways.
    implicit val sqlCtx = spark.sqlContext
    def us(base: String, micros: Int): Timestamp = {
      val t = ts(base)
      t.setNanos(micros * 1000)
      t
    }
    val lMem = MemoryStream[(Long, Timestamp, Long)]
    val rMem = MemoryStream[(Long, Timestamp, Long)]
    def named(m: MemoryStream[(Long, Timestamp, Long)]) =
      m.toDF().toDF("key", "ts", "id").withWatermark("ts", "10 minutes")
    val q = StreamOps.asofJoinStream(named(lMem), named(rMem))
      .writeStream.format("memory").queryName("asof_micros")
      .outputMode("append").start()
    try {
      // key 1: right 500us AFTER the left (same millisecond) -> no match
      // key 2: right 200us BEFORE the left (same millisecond) -> match
      lMem.addData((1L, us("2026-01-01 10:00:00", 300), 10L),
        (2L, us("2026-01-01 10:00:00", 500), 20L))
      rMem.addData((1L, us("2026-01-01 10:00:00", 800), 11L),
        (2L, us("2026-01-01 10:00:00", 300), 21L))
      // watermark pushers on both sides
      lMem.addData((9L, ts("2026-01-01 12:00:00"), 90L))
      rMem.addData((9L, ts("2026-01-01 12:00:00"), 91L))
      q.processAllAvailable()
      lMem.addData((9L, ts("2026-01-01 13:00:00"), 92L))
      rMem.addData((9L, ts("2026-01-01 13:00:00"), 93L))
      q.processAllAvailable()
      val out = spark.table("asof_micros").filter(col("key") <= 2L)
        .select("key", "left_id", "right_id", "left_ts", "right_ts")
        .as[(Long, Long, Option[Long], Timestamp, Option[Timestamp])]
        .collect().sortBy(_._1)
      assert(out.map(x => (x._1, x._2, x._3)).toSeq ==
        Seq((1L, 10L, None), (2L, 20L, Some(21L))), s"got ${out.toSeq}")
      // and the emitted timestamps keep their sub-ms component
      assert(out(0)._4.getNanos == 300000, "left_ts lost its micros")
      assert(out(1)._5.get.getNanos == 300000, "right_ts lost its micros")
      // batch agreement on the same rows
      val batch = StreamOps.asofJoin(
          Seq((1L, us("2026-01-01 10:00:00", 300), 10L),
            (2L, us("2026-01-01 10:00:00", 500), 20L)).toDF("key", "ts", "left_id"),
          Seq((1L, us("2026-01-01 10:00:00", 800), 11L),
            (2L, us("2026-01-01 10:00:00", 300), 21L)).toDF("key", "ts", "right_id"),
          Seq("key"), "ts", "ts", Map("right_id" -> "right_id"))
        .select("key", "left_id", "right_id")
        .as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
      assert(batch == Seq((1L, 10L, None), (2L, 20L, Some(21L))))
    } finally q.stop()
  }

  test("sessionize splits on gaps > threshold per user") {
    val out = StreamOps.sessionize(batchDf, gapMinutes = 60)
      .orderBy("user_id", "session_id")
      .select("user_id", "session_id", "n_events")
      .as[(Long, Long, Long)].collect().toSeq
    // user 100: 10:05, 10:40 (35m gap), 11:59 (79m gap -> new session)
    // user 200: 11:10, 13:00 (110m gap -> new session)
    assert(out == Seq((100L, 1L, 2L), (100L, 2L, 1L),
      (200L, 1L, 1L), (200L, 2L, 1L)))
  }

  test("DedupStream: the index grows only by novel docs; redelivery appends nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-stream").toString
    val root = s"$dir/index"
    def indexIds = spark.read.parquet(s"$root/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docsStream = mem.toDF().toDF("doc_id", "text")
    val q = graft.streaming.DedupStream
      .writer(docsStream, root, "doc_id", "text", bands = 8, threshold = 0.4)
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // batch 1 bootstraps the index: within-batch exact dup collapses
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog tonight"),
        (2L, "the quick brown fox jumps over the lazy dog tonight"))
      q.processAllAvailable()
      assert(indexIds == Seq(1L), "bootstrap batch dedups within itself")
      // batch 2: near-dup of indexed 1 drops (via the STORED band
      // table, not recomputed corpus signatures); within-batch pair
      // {11,12} collapses to 11; only novel content appends
      mem.addData(
        (10L, "the quick brown fox jumps over the lazy dog at dawn today"),
        (11L, "a brand new batch document with entirely fresh content"),
        (12L, "a brand new batch document with entirely fresh content today yes"))
      q.processAllAvailable()
      assert(indexIds == Seq(1L, 11L),
        "10 drops against the index, {11,12} collapses, 11 appends")
      // redelivery of an already-accepted doc: the stored fingerprint
      // table makes it a no-op — replay-idempotence WITHOUT a batch guard
      mem.addData((11L, "a brand new batch document with entirely fresh content"))
      q.processAllAvailable()
      assert(indexIds == Seq(1L, 11L), "redelivered row appends nothing")
      // sidecars track the docs table exactly: 8 bands/doc, 1 fp/doc
      val nDocs = indexIds.size
      assert(spark.read.parquet(s"$root/bands")
        .select("id").distinct().count() == nDocs)
      assert(spark.read.parquet(s"$root/bands").count() == 8L * nDocs)
      val fps = spark.read.parquet(s"$root/fps")
        .select("id").as[Long].collect().sorted.toSeq
      assert(fps == indexIds, "one fingerprint per indexed doc")
      // and they hold exactly what the public builders derive from the
      // visible docs
      import graft.streaming.DedupStream.visibleIndex
      val docs = visibleIndex(spark, s"$root/docs")
      assertSameRows(visibleIndex(spark, s"$root/bands"),
        graft.datax.Dedup.bandSignatures(docs, "doc_id", "text", bands = 8),
        "stored bands == bandSignatures(visible docs)")
      assertSameRows(visibleIndex(spark, s"$root/fps"),
        graft.datax.Dedup.fingerprintTable(docs, "doc_id", "text"),
        "stored fps == fingerprintTable(visible docs)")
    } finally q.stop()
  }

  /** `stored` (a visible index table: `batch` and the other side's
    * all-null columns included) and `built` agree row for row on
    * `built`'s columns. */
  private def assertSameRows(stored: org.apache.spark.sql.DataFrame,
      built: org.apache.spark.sql.DataFrame, clue: String): Unit = {
    val a = stored.select(built.columns.map(col).toIndexedSeq: _*)
    assert(a.exceptAll(built).isEmpty && built.exceptAll(a).isEmpty, clue)
    assert(built.count() > 0, s"vacuous: $clue")
  }

  test("compactIndex: folds old batches, preserves index state and the replay contract") {
    import graft.streaming.DedupStream
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-compact").toString
    val root = s"$dir/index"
    // the committed view (raw read.parquet would also see dirs that are
    // invisible during compaction crash windows — that invisibility is
    // itself under test below)
    def docIds = DedupStream.visibleIndex(spark, s"$root/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    def state = (docIds,
      DedupStream.visibleIndex(spark, s"$root/bands").select("id", "band", "bsig")
        .as[(Long, Int, String)].collect().toSet,
      DedupStream.visibleIndex(spark, s"$root/fps")
        .select("id").as[Long].collect().sorted.toSeq)
    def proc(b: org.apache.spark.sql.DataFrame, id: Long) =
      DedupStream.processBatch(b, id, root, "doc_id", "text",
        bands = 8, threshold = 0.4)
    proc(Seq((1L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text"), 0L)
    proc(Seq((2L, "completely unrelated text about spark physical plans here"))
      .toDF("doc_id", "text"), 1L)
    val b2 = Seq((3L, "a third novel document with its own fresh words"))
      .toDF("doc_id", "text")
    proc(b2, 2L)
    val before = state
    assert(before._1 == Seq(1L, 2L, 3L))
    // compact batches 0..1 (keep the in-flight batch 2 replayable)
    assert(DedupStream.compactIndex(spark, root) == Some(1L))
    assert(state == before, "compaction is layout-only: same visible rows")
    assert(DedupStream.compactedUpTo(spark, s"$root/docs") == Some(1L))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    for (t <- Seq("docs", "bands", "fps")) {
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$t/batch=0")) &&
        !fs.exists(new org.apache.hadoop.fs.Path(s"$root/$t/batch=1")),
        s"$t: folded batch dirs are garbage-collected")
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/$t/batch=-3")),
        s"$t: epoch dir for cutoff 1 exists")
    }
    // replay of the in-flight batch AFTER compaction: still a clean
    // rewrite (its partition survived compaction as its own dir)
    proc(b2, 2L)
    assert(state == before, "replay after compaction leaves the index identical")
    // a stale UNCOMMITTED epoch dir (crash simulation: compaction died
    // before its marker flip) is invisible: duplicate rows in it must
    // not reach the verify pass or the index reads
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$root/docs/batch=-3"), fs,
      new org.apache.hadoop.fs.Path(s"$root/docs/batch=-9"), false,
      spark.sessionState.newHadoopConf())
    // near-dup of compacted doc 1 must drop; novel doc appends — against
    // the epoch-visible index, unaffected by the stale dir
    proc(Seq(
      (10L, "the quick brown fox jumps over the lazy dog at dawn today"),
      (11L, "fresh new content appearing for the first time right here"))
      .toDF("doc_id", "text"), 3L)
    assert(docIds == Seq(1L, 2L, 3L, 11L),
      "10 near-dups compacted doc 1 and drops; 11 appends")
    // gc removes the stale epoch; a second compaction supersedes -3 with -4
    DedupStream.gcIndexTable(spark, s"$root/docs")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/docs/batch=-9")))
    val snap2 = state
    assert(DedupStream.compactIndex(spark, root) == Some(2L))
    assert(state == snap2, "second compaction also layout-only")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/docs/batch=-4")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$root/docs/batch=-3")),
      "superseded epoch replaced and collected")
    // the loop keeps working on the doubly-compacted index
    proc(Seq((20L, "fresh new content appearing for the first time right here today"))
      .toDF("doc_id", "text"), 4L)
    assert(docIds == Seq(1L, 2L, 3L, 11L),
      "20 near-dups 11 (now inside epoch -4) and drops")
  }

  test("expireIndex: drops the consolidated generation; replay and the invariant for RETAINED docs hold") {
    import graft.streaming.DedupStream
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-expire").toString
    val root = s"$dir/index"
    def docIds = DedupStream.visibleIndex(spark, s"$root/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    def proc(b: org.apache.spark.sql.DataFrame, id: Long) =
      DedupStream.processBatch(b, id, root, "doc_id", "text",
        bands = 8, threshold = 0.4)
    proc(Seq((1L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text"), 0L)
    proc(Seq((2L, "completely unrelated text about spark physical plans here"))
      .toDF("doc_id", "text"), 1L)
    val b2 = Seq((3L, "fresh new content appearing for the first time right here"))
      .toDF("doc_id", "text")
    proc(b2, 2L)
    // nothing to expire before a compaction exists (no committed epoch)
    assert(DedupStream.expireIndex(spark, root).isEmpty)
    assert(DedupStream.compactIndex(spark, root) == Some(1L))
    // RETENTION: forget the consolidated generation (batches 0..1)
    assert(DedupStream.expireIndex(spark, root) == Some(1L))
    assert(docIds == Seq(3L), "only the retained batch remains visible")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    for (t <- Seq("docs", "bands", "fps")) {
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$t/batch=-3")),
        s"$t: expired epoch dir deleted")
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/$t/batch=2")),
        s"$t: retained batch untouched")
    }
    // marker unchanged: cutoff 1 with no epoch = "everything <= 1 forgotten"
    assert(DedupStream.compactedUpTo(spark, s"$root/docs") == Some(1L))
    // idempotent: a second expiry finds nothing to drop
    assert(DedupStream.expireIndex(spark, root).isEmpty)
    // REPLAY of the newest (replayable) batch after retention: clean rewrite
    proc(b2, 2L)
    assert(docIds == Seq(3L), "replay after expiry leaves the index identical")
    // the no-near-dup invariant holds for RETAINED docs (30 drops), while
    // a near-dup of an EXPIRED doc is re-admitted — that forgetting is the
    // retention semantics, not a defect
    proc(Seq(
      (30L, "fresh new content appearing for the first time right here today"),
      (31L, "the quick brown fox jumps over the lazy dog at dawn today"))
      .toDF("doc_id", "text"), 3L)
    assert(docIds == Seq(3L, 31L),
      "30 near-dups retained doc 3 and drops; 31 matches only expired doc 1 and is admitted")
    // the loop keeps compacting normally on the expired index
    assert(DedupStream.compactIndex(spark, root) == Some(2L))
    assert(docIds == Seq(3L, 31L))
  }

  test("processBatch onMalformed=quarantine: malformed rows dead-letter with reasons, survivors unchanged; default keeps the historical pass-through") {
    import graft.streaming.DedupStream
    // verdict r15 #4: continuous ingest is the one place the ST3
    // dead-letter posture must be an option ON the drive — before this,
    // validDocuments was compose-in-front caller discipline and the
    // loop silently relied on null-safe fingerprint rules.
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-valid").toString
    val root = s"$dir/index"
    val qdir = s"$dir/quarantine"
    def docIds = DedupStream.visibleIndex(spark, s"$root/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    def proc(b: org.apache.spark.sql.DataFrame, id: Long) =
      DedupStream.processBatch(b, id, root, "doc_id", "text", bands = 8,
        threshold = 0.4, onMalformed = Some("quarantine"),
        quarantineDir = Some(qdir))
    proc(Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, null.asInstanceOf[String]),
      (3L, "   \t ")).toDF("doc_id", "text"), 0L)
    assert(docIds == Seq(1L), "only the clean doc enters the index")
    def quarantined = spark.read.parquet(qdir)
      .select("doc_id", "malformed_reason").as[(Long, String)]
      .collect().toMap
    assert(quarantined == Map(2L -> "null_text", 3L -> "empty_text"),
      s"dead-letters carry reasons, got $quarantined")
    // survivors of a later batch are untouched by the validation: the
    // near-dup still drops against the index, the novel doc appends,
    // the malformed row dead-letters
    proc(Seq(
      (10L, "the quick brown fox jumps over the lazy dog at dawn today"),
      (11L, "fresh new content appearing for the first time right here"),
      (12L, null.asInstanceOf[String])).toDF("doc_id", "text"), 1L)
    assert(docIds == Seq(1L, 11L),
      "near-dup drops, novel appends — dedup semantics unchanged")
    assert(quarantined == Map(2L -> "null_text", 3L -> "empty_text",
      12L -> "null_text"))
    // default (None): the historical silent pass-through — malformed
    // rows flow into the null-safe dedup rules and may enter the index
    val root2 = s"$dir/index2"
    DedupStream.processBatch(Seq(
        (1L, "the quick brown fox jumps over the lazy dog tonight"),
        (2L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      0L, root2, "doc_id", "text", bands = 8, threshold = 0.4)
    val ids2 = DedupStream.visibleIndex(spark, s"$root2/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids2 == Seq(1L, 2L),
      "default keeps the pre-round-16 behavior: the null doc passes through")
  }

  test("ingestAvailableNow: multi-file AvailableNow drive == the sequential processBatch composition") {
    import graft.streaming.{BatchFiles, DedupStream}
    val dir = java.nio.file.Files.createTempDirectory("graft-d52-spec").toString
    // ids chosen so pmod(id, 3) splits give: batch0 = {3, 6, 9},
    // batch1 = {1, 4, 7}, batch2 = {2, 5, 8}; doc 1 near-dups doc 3
    // (CROSS-batch drop via the stored index), doc 8 near-dups doc 4
    // (also cross-batch), doc 7 exact-dups doc 6 cross-batch, and
    // {5, 2} is a within-batch near-dup pair (min id 2 survives).
    val docs = d52Docs
    BatchFiles.write(docs, s"$dir/src", "doc_id", splits = 3)
    var prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil
    val streamed = DedupStream.ingestAvailableNow(spark, s"$dir/src",
        s"$dir/index", s"$dir/ckpt", "doc_id", "text",
        bands = 8, threshold = 0.4, onProgress = p => prog = p)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // OPERATIONAL-SHAPE GUARD: 3 files at maxFilesPerTrigger=1 (default)
    // -> one data micro-batch per file, all 9 docs read
    assert(prog.count(_.numInputRows > 0) == 3,
      s"expected 3 data micro-batches, got ${prog.map(_.numInputRows).toList}")
    assert(prog.map(_.numInputRows).sum == 9)
    // the same splits driven through processBatch by hand, in order
    val root2 = s"$dir/index2"
    (0 until 3).foreach { i =>
      DedupStream.processBatch(
        docs.filter(pmod($"doc_id", lit(3)) === i), i.toLong, root2,
        "doc_id", "text", bands = 8, threshold = 0.4)
    }
    val composed = DedupStream.visibleIndex(spark, s"$root2/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamed == composed, "AvailableNow drive == batch composition")
    // and the cross-batch index path was genuinely exercised
    assert(streamed == Seq(2L, 3L, 4L, 6L, 9L),
      "1, 7, 8 drop against EARLIER batches' index; 5 drops within-batch")
  }

  test("progress traces are listener-complete: a recentProgress cap below " +
       "the batch count no longer truncates onProgress") {
    // the regression this pins: onProgress used to read q.recentProgress,
    // which Spark caps at spark.sql.streaming.numRecentProgressUpdates
    // (default 100) — a >100-batch backfill silently lost its earliest
    // entries. Force the cap BELOW this drive's batch count and assert
    // the listener-collected trace is still complete and in batch order.
    import graft.streaming.{BatchFiles, DedupStream}
    val dir = java.nio.file.Files.createTempDirectory("graft-d52-trace").toString
    BatchFiles.write(d52Docs, s"$dir/src", "doc_id", splits = 3)
    val key = "spark.sql.streaming.numRecentProgressUpdates"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "2") // < the 3 data batches (+ final commit batch)
    try {
      var prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil
      DedupStream.ingestAvailableNow(spark, s"$dir/src",
          s"$dir/index", s"$dir/ckpt", "doc_id", "text",
          bands = 8, threshold = 0.4, onProgress = p => prog = p)
        .unpersist()
      assert(prog.count(_.numInputRows > 0) == 3,
        s"trace truncated under the cap: ${prog.map(_.numInputRows).toList}")
      assert(prog.map(_.numInputRows).sum == 9, "some batch's rows missing")
      assert(prog.map(_.batchId) == prog.map(_.batchId).sorted,
        "trace not in batch order")
    } finally spark.conf.set(key, prev)
  }

  // the 9-doc fixture shared by the d52 drive specs: near-dup pairs
  // {1,3} {4,8} {2,5}, exact pair {6,7}, novel 9 (at bands=8, thr=0.4)
  private def d52Docs = Seq(
    (3L, "the quick brown fox jumps over the lazy dog tonight"),
    (6L, "completely unrelated text about spark physical plans here"),
    (9L, "a totally different document concerning streaming watermarks"),
    (1L, "the quick brown fox jumps over the lazy dog at dawn today"),
    (4L, "a brand new batch document with entirely fresh content"),
    (7L, "completely unrelated text about spark physical plans here"),
    (2L, "yet another novel piece of text with its own special words"),
    (5L, "yet another novel piece of text with its own special words indeed"),
    (8L, "a brand new batch document with entirely fresh content today yes"))
    .toDF("doc_id", "text")

  // the 9-vector fixture for the EmbedStream drive specs — the vector
  // twin of d52Docs: with splits=3, batch0 = {3,6,9}, batch1 = {1,4,7},
  // batch2 = {2,5,8}; near-dup pairs {1,3} {4,8} cross-batch, {2,5}
  // within-batch, {6,7} exact cross-batch, 9 novel. Directions are
  // deterministic pseudo-random 64-dim vectors (pairwise near-
  // orthogonal); a partner adds 1% deterministic noise (cosine ~0.9999
  // >= the 0.9 threshold).
  private def embedDir(k: Int): Array[Float] =
    Array.tabulate(64)(j => (((k * 64 + j) * 2654435761L % 17).toFloat - 8f))
  private def embedNear(k: Int, salt: Int): Array[Float] = {
    val base = embedDir(k)
    Array.tabulate(64)(j =>
      base(j) + 0.01f * (((salt * 40503L + j) % 7).toFloat - 3f))
  }
  private def embedVecs = Seq(
    (3L, embedDir(0)), (6L, embedDir(1)), (9L, embedDir(2)),
    (1L, embedNear(0, 1)), (4L, embedDir(3)), (7L, embedDir(1)),
    (2L, embedDir(4)), (5L, embedNear(4, 5)), (8L, embedNear(3, 8)))
    .toDF("vec_id", "embedding")

  /** Ceiling on the Spark jobs of one steady
    * [[graft.streaming.EmbedStream.processBatch]] batch over the fixture
    * below, with a serving append. Computing the within drop list, the
    * cross candidates and the serving geometry once, it runs 27;
    * recomputing them for each reader ran 83. */
  private val EmbedStreamSteadyJobCeiling = 35

  test("EmbedStream: AvailableNow drive == processBatch composition; replay idempotent; retention works") {
    import graft.streaming.{BatchFiles, DedupStream, EmbedStream}
    val dir = java.nio.file.Files.createTempDirectory("graft-d55-spec").toString
    BatchFiles.write(embedVecs, s"$dir/src", "vec_id", splits = 3)
    val streamed = EmbedStream.ingestAvailableNow(spark, s"$dir/src",
        s"$dir/index", s"$dir/ckpt", "vec_id", "embedding",
        tables = 3, planesPerTable = 4, threshold = 0.9)
      .select("vec_id").as[Long].collect().sorted.toSeq
    // 1, 7, 8 drop against EARLIER batches' index; 5 drops within-batch
    assert(streamed == Seq(2L, 3L, 4L, 6L, 9L), s"got $streamed")
    // == the same splits driven through processBatch by hand
    val root2 = s"$dir/index2"
    (0 until 3).foreach { i =>
      EmbedStream.processBatch(
        embedVecs.filter(pmod($"vec_id", lit(3)) === i), i.toLong, root2,
        "vec_id", "embedding", tables = 3, planesPerTable = 4,
        threshold = 0.9)
    }
    def indexIds(root: String) =
      DedupStream.visibleIndex(spark, s"$root/vecs")
        .select("vec_id").as[Long].collect().sorted.toSeq
    assert(indexIds(root2) == streamed, "drive == batch composition")
    // REPLAY: re-running a batch (the crash-recovery case) rewrites its
    // partitions — never double-appends, never self-dedups to empty
    EmbedStream.processBatch(
      embedVecs.filter(pmod($"vec_id", lit(3)) === 2), 2L, root2,
      "vec_id", "embedding", tables = 3, planesPerTable = 4,
      threshold = 0.9)
    assert(indexIds(root2) == streamed, "replay leaves the index identical")
    // the bands sidecar rides along, self-describing
    val params = DedupStream.visibleIndex(spark, s"$root2/bands")
      .select("params").distinct().as[String].collect()
    assert(params.toSeq == Seq("L=3,r=4,dim=64"), s"got ${params.toSeq}")
    assertSameRows(DedupStream.visibleIndex(spark, s"$root2/bands"),
      graft.datax.Dedup.embeddingBandSignatures(
        DedupStream.visibleIndex(spark, s"$root2/vecs"), "vec_id",
        "embedding", tables = 3, planesPerTable = 4),
      "stored vector bands == embeddingBandSignatures(visible vecs)")
    // RETENTION: compact folds old batches (layout-only), expire drops
    // the consolidated generation — the DedupStream protocol over
    // (vecs, bands)
    val before = indexIds(root2)
    assert(EmbedStream.compactIndex(spark, root2) == Some(1L))
    assert(indexIds(root2) == before, "compaction is layout-only")
    assert(EmbedStream.expireIndex(spark, root2) == Some(1L))
    assert(indexIds(root2) == Seq(2L),
      "expiry forgets the consolidated generation (batches 0-1); only " +
        "batch 2's survivor {2} remains")
  }

  test("EmbedStream servingDir: crash between dedup-index write and serving append heals on replay; serving appends are batch-idempotent") {
    import graft.streaming.{DedupStream, EmbedStream}
    import graft.datax.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft-d55-serve").toString
    val root = s"$dir/index"
    val serving = s"$dir/serving"
    def split(i: Int) = embedVecs.filter(pmod($"vec_id", lit(3)) === i)
    // bootstrap: batch 0 is the backfill; the serving index is built
    // ONCE over its survivors (geometry pinned here serves every later
    // append — the no-fixture-defaults stance)
    EmbedStream.processBatch(split(0), 0L, root, "vec_id", "embedding",
      tables = 3, planesPerTable = 4, threshold = 0.9)
    val backfill = DedupStream.visibleIndex(spark, s"$root/vecs")
      .select("vec_id", "embedding").localCheckpoint(eager = true)
    Similarity.pqIndexWrite(backfill, serving, nCentroids = 2)
    // batch 1, CRASHED between the dedup-index writes and the serving
    // append: exactly what a run without servingDir leaves behind
    EmbedStream.processBatch(split(1), 1L, root, "vec_id", "embedding",
      tables = 3, planesPerTable = 4, threshold = 0.9)
    // Structured Streaming replays the WHOLE batch: both sides rewrite
    // their own batch partitions — the seam closes
    EmbedStream.processBatch(split(1), 1L, root, "vec_id", "embedding",
      tables = 3, planesPerTable = 4, threshold = 0.9,
      servingDir = Some(serving))
    // batch 2 clean, then replayed once more (plain idempotence)
    (0 until 2).foreach { _ =>
      EmbedStream.processBatch(split(2), 2L, root, "vec_id", "embedding",
        tables = 3, planesPerTable = 4, threshold = 0.9,
        servingDir = Some(serving))
    }
    // the serving index holds exactly the dedup survivors, once each:
    // base = backfill {3,6,9}, increment = batch survivors {4}, {2}
    val incIds = spark.read.parquet(s"$serving/codes_inc.parquet")
      .select("id").as[Long].collect().sorted.toSeq
    assert(incIds == Seq(2L, 4L),
      s"one row per appended survivor, no double-appends: got $incIds")
    // probe ≡ a frozen-geometry rebuild over the full survivor set —
    // the converged state a clean never-crashed run would serve
    val survivors = DedupStream.visibleIndex(spark, s"$root/vecs")
      .select("vec_id", "embedding").localCheckpoint(eager = true)
    val rebuilt = s"$dir/rebuilt"
    Similarity.pqIndexWriteWith(survivors, rebuilt,
      spark.read.parquet(
        Similarity.sidecarOf(spark, serving, "centroids.parquet"))
        .localCheckpoint(eager = true),
      spark.read.parquet(
        Similarity.sidecarOf(spark, serving, "pq_codebook.parquet"))
        .localCheckpoint(eager = true))
    val queries = embedVecs
    val a = Similarity.ivfPqTopK(spark, serving, queries, k = 2, nProbe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    val b = Similarity.ivfPqTopK(spark, rebuilt, queries, k = 2, nProbe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a.nonEmpty && a == b,
      "replayed crash must converge to the clean run's probe results")
    // staleness sees the increment; the triggered rebuild then resets it
    val staleness = Similarity.ivfIndexStaleness(spark, serving)
    assert(staleness.exists(s => math.abs(s - 2.0 / 3.0) < 1e-12),
      s"2 appended over 3 built, got $staleness")
  }

  test("EmbedStream steady batch: each intermediate runs once (a job " +
       "ceiling), no cache it creates outlives it, and its vecs, bands and " +
       "serving rows == the pass-by-pass composition") {
    import graft.streaming.{DedupStream, EmbedStream}
    import graft.datax.{Dedup, Similarity}
    val dir = java.nio.file.Files.createTempDirectory("graft-d55-once").toString
    try {
      val (root, serving) = (s"$dir/index", s"$dir/serving")
      def split(i: Int) = embedVecs.filter(pmod($"vec_id", lit(3)) === i)
      def step(i: Int, servingDir: Option[String]) =
        EmbedStream.processBatch(split(i), i.toLong, root, "vec_id",
          "embedding", tables = 3, planesPerTable = 4, threshold = 0.9,
          servingDir = servingDir)
      step(0, None)
      def visible(table: String) =
        DedupStream.visibleIndex(spark, s"$root/$table").drop("batch")
          .localCheckpoint(eager = true)
      val index = visible("vecs")
      Similarity.pqIndexWrite(index, serving, nCentroids = 2)
      // batch 1 the way the loop composed it pass by pass: within
      // drops, then cross drops against the stored index and sidecar
      val b1 = split(1)
      val withinDrop = Dedup.embeddingNearDupsBanded(b1, "vec_id",
          "embedding", tables = 3, planesPerTable = 4, threshold = 0.9)
        .select($"id_b".as("vec_id"))
      val withinKept = b1.join(withinDrop, Seq("vec_id"), "left_anti")
      val crossDrop = Dedup.embeddingNearDupsIncremental(withinKept, index,
          "vec_id", "embedding", tables = 3, planesPerTable = 4,
          threshold = 0.9, indexBands = Some(visible("bands")))
        .select($"id_a".as("vec_id"))
      val want = withinKept.join(crossDrop, Seq("vec_id"), "left_anti")
        .localCheckpoint(eager = true)
      val wantBands = Dedup.embeddingBandSignatures(want, "vec_id",
        "embedding", tables = 3, planesPerTable = 4)
      def sidecar(name: String) =
        spark.read.parquet(Similarity.sidecarOf(spark, serving, name))
      val wantCodes = Similarity.pqCodeRowsForPlan(want,
        sidecar("centroids.parquet"), sidecar("pq_codebook.parquet"))
      Dedup.releaseShingleCaches()
      spark.catalog.clearCache()
      // the serving geometry resolves on its first append or probe; the
      // steady batch reads it from the cache
      Similarity.ivfPqTopK(spark, serving, split(1), k = 1, nProbe = 1).collect()
      val jobs = TestSpark.jobsOf(step(1, Some(serving)))
      assert(jobs <= EmbedStreamSteadyJobCeiling,
        s"a steady vector batch ran $jobs Spark jobs")
      assert(spark.sharedState.cacheManager.isEmpty,
        "processBatch must release every cache it created")
      assertSameRows(spark.read.parquet(s"$root/vecs/batch=1"), want, "vecs")
      assertSameRows(spark.read.parquet(s"$root/bands/batch=1"), wantBands,
        "bands")
      assertSameRows(spark.read.parquet(s"$serving/codes_inc.parquet/batch=1"),
        wantCodes, "serving increment")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("serving probes are read-your-writes during an in-flight batch: " +
       "the running batchId's increment is visible the moment its append " +
       "completes, and a replay REPLACES the transient view (round-18 pin)") {
    import graft.datax.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft-ryw").toString
    try {
      val base = embedVecs.filter($"vec_id" <= 6)
      Similarity.pqIndexWrite(base, dir, nCentroids = 2)
      // fresh query ids (probes exclude self-matches by id), query
      // VECTORS equal to the appended rows'
      def top2(vec: Array[Float]) = Similarity.ivfPqTopK(spark, dir,
          Seq((100L, vec)).toDF("vec_id", "embedding"), k = 2, nProbe = 2)
        .select("id").as[Long].collect().toSeq
      // mid-batch state: batch 9's serving append has completed; the
      // batch as a whole (dedup-index writes, commit) has NOT — the
      // appended row must be searchable NOW (ANN freshness)
      Similarity.ivfIndexAppendBatch(spark, dir,
        embedVecs.filter($"vec_id" === 7L), 9L)
      assert(top2(embedDir(1)).contains(7L),
        "the in-flight batch's row is searchable immediately")
      // crash replay: the TRUE deterministic shard for batch 9 is {8} —
      // the partition overwrite REPLACES the transient rows (the
      // read-your-writes view is bounded by replay, never unioned)
      Similarity.ivfIndexAppendBatch(spark, dir,
        embedVecs.filter($"vec_id" === 8L), 9L)
      assert(!top2(embedDir(1)).contains(7L),
        "the replayed batch must replace the transiently-visible rows")
      assert(top2(embedNear(3, 8)).contains(8L), "the replay's own rows serve")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("a crash replay of a batch the maintenance rebuild CONSUMED stays " +
       "invisible (round-19 consumed token): the serving view is exactly " +
       "the rebuilt base, staleness reads 0, and later batches serve") {
    import graft.datax.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft-consumed").toString
    try {
      val base = embedVecs.filter($"vec_id" <= 6)
      Similarity.pqIndexWrite(base, dir, nCentroids = 2)
      def top2(vec: Array[Float]) = Similarity.ivfPqTopK(spark, dir,
          Seq((100L, vec)).toDF("vec_id", "embedding"), k = 2, nProbe = 2)
        .select("id").as[Long].collect().toSeq
      // the streaming driver appends batch 9, then the re-quantize rule
      // fires a rebuild over the FULL corpus (vec 7 included) — which
      // consumes batch 9 and clears the increment
      Similarity.ivfIndexAppendBatch(spark, dir,
        embedVecs.filter($"vec_id" === 7L), 9L)
      assert(Similarity.ivfIndexMaintain(spark, dir,
        embedVecs.filter($"vec_id" <= 7), maxStaleness = 0.01).rebuilt)
      assert(top2(embedDir(1)).contains(7L),
        "the rebuilt base serves the absorbed row")
      // Structured Streaming crash recovery re-runs batch 9 — its rows
      // are ALREADY IN the base; before the consumed token this replay
      // double-counted them (the same id would serve from base AND
      // increment — visibly, as a duplicated top-k id)
      Similarity.ivfIndexAppendBatch(spark, dir,
        embedVecs.filter($"vec_id" === 7L), 9L)
      val t = top2(embedDir(1))
      assert(t.contains(7L) && t.distinct.size == t.size,
        s"the replayed consumed batch must not double-serve: $t")
      assert(Similarity.ivfIndexStaleness(spark, dir) == Some(0.0),
        "consumed replays are invisible to staleness")
      // a batch ABOVE the consumed cutoff serves normally
      Similarity.ivfIndexAppendBatch(spark, dir,
        embedVecs.filter($"vec_id" === 8L), 10L)
      assert(top2(embedNear(3, 8)).contains(8L),
        "post-rebuild batches above the cutoff serve")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("EmbedStream within-batch pass derives its occupancy guard from maxBucketLoad") {
    import graft.streaming.EmbedStream
    val dir = java.nio.file.Files.createTempDirectory("graft-d55-guard").toString
    // three identical vectors share every bucket; maxBucketLoad = 4 ->
    // within-batch occupancy bound sqrt(4) = 2 -> the triple must raise
    // (previously this first-batch path was unguarded: ADVICE r16)
    val batch = Seq((1L, embedDir(0)), (2L, embedDir(0)), (3L, embedDir(0)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Throwable] {
      EmbedStream.processBatch(batch, 0L, s"$dir/index", "vec_id",
        "embedding", tables = 1, planesPerTable = 1, threshold = 0.9,
        maxBucketLoad = Some(4L))
    }
    val chain = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(chain.contains("hot LSH bucket"), s"got:\n$chain")
    // the raise itself names the dup-heavy escape (round-18 ADVICE: a
    // deployment upgrading across the guard-default change discovers
    // the knob from the error, not from a scaladoc dig)
    assert(chain.contains("withinOccupancy = Some(None)"), s"got:\n$chain")
    // the dup-heavy escape: Some(None) unguards the WITHIN pass alone
    // (this batch's load IS the answer — 3 mutual dups), the batch
    // succeeds, and the semanticDedup rule keeps only the smallest id
    EmbedStream.processBatch(batch, 0L, s"$dir/index2", "vec_id",
      "embedding", tables = 1, planesPerTable = 1, threshold = 0.9,
      maxBucketLoad = Some(4L), withinOccupancy = Some(None))
    val ids = graft.streaming.DedupStream
      .visibleIndex(spark, s"$dir/index2/vecs")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L), s"got $ids")
  }

  test("EmbedStream validateDim: malformed vectors dead-letter with reasons; default fail raises") {
    import graft.streaming.{DedupStream, EmbedStream}
    val dir = java.nio.file.Files.createTempDirectory("graft-d55-valid").toString
    val root = s"$dir/index"
    val qdir = s"$dir/quarantine"
    val batch = Seq(
      (1L, Some(embedDir(0))),
      (2L, None),
      (3L, Some(Array(1.0f, 2.0f)))).toDF("vec_id", "embedding")
    EmbedStream.processBatch(batch, 0L, root, "vec_id", "embedding",
      tables = 3, planesPerTable = 4, threshold = 0.9,
      validateDim = Some(64), onMalformed = "quarantine",
      quarantineDir = Some(qdir))
    val ids = DedupStream.visibleIndex(spark, s"$root/vecs")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L), "only the clean vector enters the index")
    val reasons = spark.read.parquet(qdir)
      .select("vec_id", "malformed_reason").as[(Long, String)]
      .collect().toMap
    assert(reasons == Map(2L -> "null_vector", 3L -> "ragged_dim_2"),
      s"got $reasons")
    // the loud default: validateDim with onMalformed left at "fail"
    val ex = intercept[Throwable] {
      EmbedStream.processBatch(batch, 0L, s"$dir/index2", "vec_id",
        "embedding", tables = 3, planesPerTable = 4, validateDim = Some(64))
    }
    val chain = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(chain.contains("malformed embedding"), s"got:\n$chain")
  }

  test("ingestAvailableNow survivors == fold-wise d49 dedupIncrement over the same splits") {
    // closes the loop from the streaming face to the ORACLE-GATED batch
    // op: the drive's survivor set must equal dedupCorpus on split 0
    // followed by dedupIncrement (the d49 entry's operator) folded over
    // the remaining splits — beyond the processBatch-composition pin,
    // this ties d52 to the operator DuckDB verifies in d49.
    import graft.datax.Dedup
    import graft.streaming.{BatchFiles, DedupStream}
    val dir = java.nio.file.Files.createTempDirectory("graft-d52-fold").toString
    val docs = d52Docs
    BatchFiles.write(docs, s"$dir/src", "doc_id", splits = 3)
    val streamed = DedupStream.ingestAvailableNow(spark, s"$dir/src",
        s"$dir/index", s"$dir/ckpt", "doc_id", "text",
        bands = 8, threshold = 0.4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val splits = (0 until 3).map(i => docs.filter(pmod($"doc_id", lit(3)) === i))
    val folded = splits.tail.foldLeft(
      Dedup.dedupCorpus(splits.head, "doc_id", "text", bands = 8,
        threshold = 0.4)) { (index, b) =>
      index.unionByName(
        Dedup.dedupIncrement(b, index, "doc_id", "text", bands = 8,
          threshold = 0.4))
    }
    assert(folded.select("doc_id").as[Long].collect().sorted.toSeq == streamed,
      "drive survivors == fold-wise dedupIncrement composition")
  }

  test("ingestAvailableNow at maxFilesPerTrigger=2 (the d52 bench config) == pairwise processBatch composition") {
    import graft.streaming.{BatchFiles, DedupStream}
    val dir = java.nio.file.Files.createTempDirectory("graft-d52-mfpt2").toString
    val docs = d52Docs
    // pmod(doc_id, 4) files: b00={4,8} b01={1,5,9} b02={2,6} b03={3,7};
    // maxFilesPerTrigger=2 -> batch 0 = {4,8,1,5,9}, batch 1 = {2,6,3,7}
    BatchFiles.write(docs, s"$dir/src", "doc_id", splits = 4)
    var prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil
    val streamed = DedupStream.ingestAvailableNow(spark, s"$dir/src",
        s"$dir/index", s"$dir/ckpt", "doc_id", "text",
        bands = 8, threshold = 0.4, maxFilesPerTrigger = 2,
        onProgress = p => prog = p)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(prog.count(_.numInputRows > 0) == 2,
      s"4 files at maxFilesPerTrigger=2 -> 2 data batches, got ${prog.map(_.numInputRows).toList}")
    val root2 = s"$dir/index2"
    Seq(Seq(0, 1), Seq(2, 3)).zipWithIndex.foreach { case (fileIdx, b) =>
      DedupStream.processBatch(
        docs.filter(pmod($"doc_id", lit(4)).isin(fileIdx: _*)), b.toLong,
        root2, "doc_id", "text", bands = 8, threshold = 0.4)
    }
    val composed = DedupStream.visibleIndex(spark, s"$root2/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamed == composed, "mFPT=2 drive == pairwise batch composition")
    assert(streamed == Seq(1L, 4L, 5L, 6L, 9L),
      "8 drops within batch 0; 2 and 3 drop against batch 0's index; 7 within batch 1")
  }

  // stage one single-file parquet "micro-batch" into destDir/name —
  // incremental arrival between AvailableNow runs (mtime = now, which is
  // strictly later than anything a finished previous run already read)
  private def stageFile(df: org.apache.spark.sql.DataFrame, destDir: String,
                        name: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stage").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(destDir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(destDir))
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$destDir/$name"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    ()
  }

  test("ingestAvailableNow resumes from its checkpoint: three runs over arriving files == one continuous drive") {
    // the continuous-ingest claim across PROCESS RESTARTS: each
    // AvailableNow run drains what arrived, stops, and the next run
    // continues from the offset log — batch ids keep incrementing, so
    // the index's batch=N partitions never collide and the final index
    // equals the single-drive composition over the same files.
    import graft.streaming.DedupStream
    val dir = java.nio.file.Files.createTempDirectory("graft-d52-resume").toString
    val docs = d52Docs
    def run() = DedupStream.ingestAvailableNow(spark, s"$dir/src",
        s"$dir/index", s"$dir/ckpt", "doc_id", "text",
        bands = 8, threshold = 0.4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    stageFile(docs.filter(pmod($"doc_id", lit(3)) === 0), s"$dir/src", "b00.parquet")
    assert(run() == Seq(3L, 6L, 9L), "run 1 bootstraps the index")
    stageFile(docs.filter(pmod($"doc_id", lit(3)) === 1), s"$dir/src", "b01.parquet")
    assert(run() == Seq(3L, 4L, 6L, 9L),
      "run 2 reads ONLY the new file and dedups it against run 1's index (1, 7 drop)")
    stageFile(docs.filter(pmod($"doc_id", lit(3)) === 2), s"$dir/src", "b02.parquet")
    assert(run() == Seq(2L, 3L, 4L, 6L, 9L),
      "run 3 continues again: 8 drops cross-run, {2,5} collapses within-batch")
    // the index carries one real batch partition per drained file —
    // batch ids continued across runs instead of restarting at 0
    val batches = DedupStream.visibleIndex(spark, s"$dir/index/docs")
      .select("batch").distinct().as[Long].collect().sorted.toSeq
    assert(batches == Seq(0L, 1L, 2L), s"batch ids continue across runs: $batches")
  }

  test("asofJoinStreamFiles resumes from its checkpoint: buffered state carries across runs") {
    // run 1 drains only the early files: nothing is ripe (watermark
    // still below every left), so the sink stays EMPTY and the
    // unresolved lefts live in the state store. Run 2 — a fresh query
    // against the same checkpoint — reads only the late files, advances
    // the watermark, and must resolve run 1's buffered lefts: state
    // recovery + file-sink exactly-once across process restarts.
    import org.apache.spark.sql.DataFrame
    val dir = java.nio.file.Files.createTempDirectory("graft-d53-resume").toString
    def drive() = StreamOps.asofJoinStreamFiles(spark, s"$dir/left",
        s"$dir/right", s"$dir/ckpt", s"$dir/out", delay = "10 minutes",
        maxFilesPerTrigger = 1)
      .select("key", "left_id", "right_id")
      .as[(Long, Long, Option[Long])].collect().toSet
    val earlyL = Seq((1L, ts("2026-01-01 10:00:00"), 2L),
      (1L, ts("2026-01-01 10:05:00"), 4L)).toDF("key", "ts", "id")
    val earlyR = Seq((1L, ts("2026-01-01 09:58:00"), 2L),
      (1L, ts("2026-01-01 10:03:00"), 4L)).toDF("key", "ts", "id")
    val lateL = Seq((1L, ts("2026-01-01 11:55:00"), 5L),
      (9L, ts("2026-01-01 12:00:00"), 7L)).toDF("key", "ts", "id")
    val lateR = Seq((9L, ts("2026-01-01 12:00:00"), 3L)).toDF("key", "ts", "id")
    stageFile(earlyL, s"$dir/left", "b00.parquet")
    stageFile(earlyR, s"$dir/right", "b00.parquet")
    assert(drive() == Set.empty,
      "run 1: watermark (9:53 — the MIN across sources: right max 10:03 " +
        "- 10 min, below the left source's 9:55) is below every left " +
        "-> all buffered, none emitted")
    stageFile(lateL, s"$dir/left", "b01.parquet")
    stageFile(lateR, s"$dir/right", "b01.parquet")
    assert(drive() == Set((1L, 2L, Some(2L)), (1L, 4L, Some(4L))),
      "run 2 resolves run 1's buffered lefts from recovered state")
  }

  test("asofJoinStreamFiles stateStoreProvider=rocksdb: output == hdfs default, " +
       "provider verifiably engaged and PINNED by the checkpoint on resume") {
    // the 100 TB state-store choice: RocksDB keeps keyed state off-heap
    // with disk spill. Pin (1) provider-independent OUTPUT on the same
    // staged input, (2) that rocksdb actually ran (its custom metrics
    // appear in progress — guards against a silently ignored conf), and
    // (3) the resume rule: the provider class is PINNED by the
    // checkpoint's offset log exactly like shuffle partitions — a later
    // run under the default (hdfs) conf keeps executing on ROCKSDB,
    // correctly (measured here: this test originally expected a loud
    // cross-provider failure and found the engine pins instead).
    import org.apache.spark.sql.streaming.StreamingQueryProgress
    val dir = java.nio.file.Files.createTempDirectory("graft-d53-rocks").toString
    val lf = Seq((1L, ts("2026-01-01 10:00:00"), 2L),
      (1L, ts("2026-01-01 10:05:00"), 4L),
      (9L, ts("2026-01-01 12:00:00"), 7L)).toDF("key", "ts", "id")
    val rf = Seq((1L, ts("2026-01-01 09:58:00"), 2L),
      (1L, ts("2026-01-01 10:03:00"), 4L),
      (9L, ts("2026-01-01 12:00:00"), 3L)).toDF("key", "ts", "id")
    def drive(sub: String, provider: Option[String],
              collect: StreamingQueryProgress => Unit = _ => ()) = {
      stageFile(lf, s"$dir/$sub/left", "b00.parquet")
      stageFile(rf, s"$dir/$sub/right", "b00.parquet")
      StreamOps.asofJoinStreamFiles(spark, s"$dir/$sub/left",
          s"$dir/$sub/right", s"$dir/$sub/ckpt", s"$dir/$sub/out",
          delay = "10 minutes", maxFilesPerTrigger = 1,
          stateStoreProvider = provider,
          onProgress = ps => ps.foreach(collect))
        .select("key", "left_id", "right_id")
        .as[(Long, Long, Option[Long])].collect().toSet
    }
    var rocksMetrics = Set.empty[String]
    val viaHdfs = drive("hdfs", None)
    val viaRocks = drive("rocks", Some("rocksdb"), p =>
      rocksMetrics ++= p.stateOperators.headOption
        .map(_.customMetrics.keySet().toArray.map(_.toString).toSet)
        .getOrElse(Set.empty))
    assert(viaHdfs.nonEmpty, "drive emitted nothing — comparison vacuous")
    assert(viaRocks == viaHdfs, s"rocksdb diverged: $viaRocks vs $viaHdfs")
    assert(rocksMetrics.exists(_.toLowerCase.contains("rocksdb")),
      s"no rocksdb custom metrics in progress — provider conf ignored? got $rocksMetrics")
    // (3): same rocks checkpoint, DEFAULT provider conf — the offset
    // log pins rocksdb; the run must keep it (rocksdb metrics again)
    // and resolve the buffered 12:00 left from recovered rocksdb state
    stageFile(Seq((1L, ts("2026-01-01 13:00:00"), 9L)).toDF("key", "ts", "id"),
      s"$dir/rocks/left", "b01.parquet")
    stageFile(Seq((9L, ts("2026-01-01 13:00:00"), 9L)).toDF("key", "ts", "id"),
      s"$dir/rocks/right", "b01.parquet")
    var resumedMetrics = Set.empty[String]
    val resumed = StreamOps.asofJoinStreamFiles(spark, s"$dir/rocks/left",
        s"$dir/rocks/right", s"$dir/rocks/ckpt", s"$dir/rocks/out",
        delay = "10 minutes", maxFilesPerTrigger = 1,
        onProgress = ps => ps.foreach(p =>
          resumedMetrics ++= p.stateOperators.headOption
            .map(_.customMetrics.keySet().toArray.map(_.toString).toSet)
            .getOrElse(Set.empty)))
      .select("key", "left_id", "right_id")
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(resumedMetrics.exists(_.toLowerCase.contains("rocksdb")),
      s"resume must keep the checkpoint-pinned rocksdb provider, got $resumedMetrics")
    assert(resumed.contains((9L, 7L, Some(3L))),
      s"run 2 must resolve the buffered 12:00 left from recovered rocksdb state: $resumed")
  }

  test("StructCodec.pack returns freshly-owned bytes per row (no projection-" +
       "buffer aliasing) and round-trips through a retaining consumer") {
    // A payload big enough to force ONE BufferHolder.grow makes the
    // projection buffer land EXACTLY on sizeInBytes, which flips
    // UnsafeRow.getBytes onto its zero-copy path for every later row.
    // Inside a full plan the very next operator copies the bytes into
    // its own UnsafeRow, which is why the shipped pipelines never see
    // it — but StructCodec.pack is PUBLIC, and a direct (interpreted)
    // eval retaining the result across rows is a legitimate consumer:
    // without the load-bearing .copy() the first result mutates to the
    // second row's bytes. Pinned by double-eval below; the DataFrame
    // round-trip guards value truth. Small payloads would NOT catch
    // the alias (initial 64-byte capacity != row size -> getBytes
    // copies); a 26-char string makes a 48-byte row that exactly
    // spans the writer's buffer on this build — probed empirically,
    // the pin FAILS with the .copy() removed.
    import graft.functions.StructCodec
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val st = StructType(Seq(StructField("s", StringType)))
    val e = StructCodec.StructPack(BoundReference(0, st, nullable = false))
    def rowOf(s: String): InternalRow = new GenericInternalRow(
      Array[Any](new GenericInternalRow(Array[Any](UTF8String.fromString(s)))))
    val b1 = e.eval(rowOf("a" * 26)).asInstanceOf[Array[Byte]]
    val snap = b1.clone().toSeq
    val b2 = e.eval(rowOf("z" * 26)).asInstanceOf[Array[Byte]]
    assert(b2.toSeq != snap, "second eval must differ")
    assert(b1.toSeq == snap,
      "first eval's bytes mutated by the second — pack aliased the projection buffer")
    // value truth end to end through a plan
    val payload = struct(concat(lit("p"), col("id")).as("s"))
    val schema = spark.range(1).select(payload.as("p"))
      .schema.head.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val back = spark.range(4).select(StructCodec.pack(payload).as("b"))
      .select(StructCodec.unpack(col("b"), schema).getField("s"))
      .as[String].collect().sorted.toSeq
    assert(back == Seq("p0", "p1", "p2", "p3"))
  }

  test("asofJoinStream payload codec flip on a live checkpoint fails loudly " +
       "(state schema check), never resumes 1000x-off") {
    // the StructCodec scaladoc claim: json payloads are state STRINGS,
    // binary payloads are state BINARY — a codec flip changes the state
    // schema and the compatibility check must reject the resume at
    // query start instead of misreading buffered payloads.
    val dir = java.nio.file.Files.createTempDirectory("graft-d53-codecflip").toString
    // run 1 (json): buffer state — nothing ripe yet
    stageFile(Seq((1L, ts("2026-01-01 10:00:00"), 2L)).toDF("key", "ts", "id"),
      s"$dir/left", "b00.parquet")
    stageFile(Seq((1L, ts("2026-01-01 09:58:00"), 2L)).toDF("key", "ts", "id"),
      s"$dir/right", "b00.parquet")
    val run1 = StreamOps.asofJoinStreamFiles(spark, s"$dir/left",
        s"$dir/right", s"$dir/ckpt", s"$dir/out",
        delay = "10 minutes", maxFilesPerTrigger = 1)
      .collect()
    assert(run1.isEmpty, "run 1 must only buffer (watermark below the left)")
    // run 2: same checkpoint, binary codec, NEW data (a batch must
    // actually run for the state layer to engage) -> loud rejection
    stageFile(Seq((1L, ts("2026-01-01 12:00:00"), 5L)).toDF("key", "ts", "id"),
      s"$dir/left", "b01.parquet")
    stageFile(Seq((1L, ts("2026-01-01 12:00:00"), 5L)).toDF("key", "ts", "id"),
      s"$dir/right", "b01.parquet")
    val flip = intercept[Exception] {
      StreamOps.asofJoinStreamFiles(spark, s"$dir/left",
        s"$dir/right", s"$dir/ckpt", s"$dir/out",
        delay = "10 minutes", maxFilesPerTrigger = 1,
        payloadCodec = "binary").collect()
    }
    val msgs = Iterator.iterate(flip: Throwable)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ").toLowerCase
    assert(msgs.contains("schema") || msgs.contains("compatible"),
      s"expected a state-schema rejection, got: $msgs")
  }

  test("statePartitions: sized at first start, PINNED by the checkpoint on later runs") {
    // the operational trap the knob documents: state-store instance
    // count = shuffle partitions at FIRST start, recorded in the
    // checkpoint's offset log — a later run under a DIFFERENT conf must
    // keep the recorded value (state files are laid out per partition;
    // rescaling means a new checkpoint). Run 1 pins 2; run 2 asks for 7
    // and must still execute — correctly — at 2.
    import org.apache.spark.sql.streaming.StreamingQueryProgress
    val dir = java.nio.file.Files.createTempDirectory("graft-d53-statep").toString
    var prog: Seq[StreamingQueryProgress] = Nil
    def drive(n: Int) = StreamOps.asofJoinStreamFiles(spark, s"$dir/left",
        s"$dir/right", s"$dir/ckpt", s"$dir/out", delay = "10 minutes",
        maxFilesPerTrigger = 1, statePartitions = Some(n),
        onProgress = p => prog = p)
      .select("key", "left_id", "right_id")
      .as[(Long, Long, Option[Long])].collect().toSet
    def statePartsSeen: Set[Long] =
      prog.flatMap(_.stateOperators).map(_.numShufflePartitions).toSet
    val earlyL = Seq((1L, ts("2026-01-01 10:00:00"), 2L),
      (1L, ts("2026-01-01 10:05:00"), 4L)).toDF("key", "ts", "id")
    val earlyR = Seq((1L, ts("2026-01-01 09:58:00"), 2L),
      (1L, ts("2026-01-01 10:03:00"), 4L)).toDF("key", "ts", "id")
    stageFile(earlyL, s"$dir/left", "b00.parquet")
    stageFile(earlyR, s"$dir/right", "b00.parquet")
    assert(drive(2) == Set.empty, "run 1: nothing ripe yet")
    assert(statePartsSeen == Set(2L),
      s"run 1 runs at the requested 2 state partitions: $statePartsSeen")
    stageFile(Seq((1L, ts("2026-01-01 11:55:00"), 5L),
      (9L, ts("2026-01-01 12:00:00"), 7L)).toDF("key", "ts", "id"),
      s"$dir/left", "b01.parquet")
    stageFile(Seq((9L, ts("2026-01-01 12:00:00"), 3L)).toDF("key", "ts", "id"),
      s"$dir/right", "b01.parquet")
    assert(drive(7) == Set((1L, 2L, Some(2L)), (1L, 4L, Some(4L))),
      "run 2 still resolves the buffered lefts correctly")
    assert(statePartsSeen == Set(2L),
      s"run 2 asked for 7 but the checkpoint pins 2: $statePartsSeen")
    // the knob runs in a cloned session: the caller's conf is untouched
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("normalizeEventTime: an NTZ parquet source streams end-to-end through asofJoinStreamFiles") {
    import graft.streaming.BatchFiles
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    // same fixture as the LTZ drive test, but the parquet inputs carry
    // TIMESTAMP_NTZ ts (the r8 upstream-drift shape): the drive must
    // normalize BEFORE the watermark and produce identical matches
    val lefts = Seq(
      (1L, ts("2026-01-01 10:00:00"), 2L),
      (1L, ts("2026-01-01 10:05:00"), 4L),
      (1L, ts("2026-01-01 11:55:00"), 5L),
      (9L, ts("2026-01-01 12:00:00"), 7L))
      .toDF("key", "ts", "id")
      .withColumn("ts", col("ts").cast(TimestampNTZType))
    val rights = Seq(
      (1L, ts("2026-01-01 09:58:00"), 2L),
      (1L, ts("2026-01-01 10:03:00"), 4L),
      (9L, ts("2026-01-01 12:00:00"), 3L))
      .toDF("key", "ts", "id")
      .withColumn("ts", col("ts").cast(TimestampNTZType))
    val dir = java.nio.file.Files.createTempDirectory("graft-ntz-drive").toString
    BatchFiles.write(lefts, s"$dir/left", "id", splits = 2)
    BatchFiles.write(rights, s"$dir/right", "id", splits = 2)
    // the written parquet really is NTZ (isAdjustedToUTC=false)
    assert(spark.read.parquet(s"$dir/left").schema("ts").dataType ==
      TimestampNTZType)
    val streamed = StreamOps.asofJoinStreamFiles(spark, s"$dir/left",
        s"$dir/right", s"$dir/ckpt", s"$dir/out", delay = "10 minutes",
        maxFilesPerTrigger = 1)
      .select("key", "left_id", "right_id")
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(streamed == Set((1L, 2L, Some(2L)), (1L, 4L, Some(4L))),
      "NTZ source resolves to the same ripe matches as the LTZ drive")
    // and the public helper: NTZ rewrites to TimestampType, LTZ is a no-op
    val ntzDf = batchDf.withColumn("ts", col("ts").cast(TimestampNTZType))
    assert(StreamOps.normalizeEventTime(ntzDf, "ts").schema("ts").dataType ==
      TimestampType)
    val ltzDf = batchDf
    assert(StreamOps.normalizeEventTime(ltzDf, "ts") eq ltzDf,
      "already-TimestampType frames pass through untouched")
  }

  test("asofJoinStreamFiles: AvailableNow file drive == batch asofJoin on watermark-ripe lefts") {
    import graft.streaming.BatchFiles
    // even ids -> file b00 (first batch), odd ids -> b01 (second):
    // early rows ride batch 0; the 12:00 watermark-pushers ride batch 1
    // on BOTH sides (the global watermark is the min across inputs), so
    // the final watermark lands at 11:50 — lefts at/below it are ripe.
    val lefts = Seq(
      (1L, ts("2026-01-01 10:00:00"), 2L),
      (1L, ts("2026-01-01 10:05:00"), 4L),
      (1L, ts("2026-01-01 11:55:00"), 5L),  // above final wm: stays pending
      (9L, ts("2026-01-01 12:00:00"), 7L))  // wm pusher, itself pending
      .toDF("key", "ts", "id")
    val rights = Seq(
      (1L, ts("2026-01-01 09:58:00"), 2L),
      (1L, ts("2026-01-01 10:03:00"), 4L),
      (9L, ts("2026-01-01 12:00:00"), 3L))  // wm pusher
      .toDF("key", "ts", "id")
    val dir = java.nio.file.Files.createTempDirectory("graft-d53-spec").toString
    BatchFiles.write(lefts, s"$dir/left", "id", splits = 2)
    BatchFiles.write(rights, s"$dir/right", "id", splits = 2)
    var prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil
    val streamed = StreamOps.asofJoinStreamFiles(spark, s"$dir/left",
        s"$dir/right", s"$dir/ckpt", s"$dir/out", delay = "10 minutes",
        maxFilesPerTrigger = 1, onProgress = p => prog = p)
      .select("key", "left_id", "right_id")
      .as[(Long, Long, Option[Long])].collect().toSet
    // OPERATIONAL-SHAPE GUARDS (fail loudly if someone silently changes
    // maxFilesPerTrigger / the watermark delay semantics):
    // 2 files per side at maxFilesPerTrigger=1 -> exactly 2 data batches
    assert(prog.count(_.numInputRows > 0) == 2,
      s"expected 2 data micro-batches, got ${prog.map(_.numInputRows).toList}")
    assert(prog.map(_.numInputRows).sum == lefts.count() + rights.count(),
      "every input row enters the drive")
    assert(prog.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum == 0,
      "no row arrives below the advanced watermark (the split-order contract)")
    // final watermark = 12:00 pushers - 10 minutes delay
    val finalWm = prog.reverse.flatMap(p =>
      Option(p.eventTime.get("watermark"))).headOption
    assert(finalWm.contains("2026-01-01T11:50:00.000Z"), s"watermark=$finalWm")
    // discarded state holds exactly the 2 keys with pending rows
    // (key 1: the 11:55 left; key 9: the 12:00 pusher pair)
    val lastState = prog.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.numRowsTotal)
    assert(lastState.contains(2L), s"state rows=$lastState")
    // the FILE sink is the output path (no driver-memory accumulation):
    // the parquet dir exists and re-reads to the same rows
    assert(spark.read.parquet(s"$dir/out")
      .select("key", "left_id", "right_id")
      .as[(Long, Long, Option[Long])].collect().toSet == streamed)
    // batch equivalence on the ripe lefts (ts <= 11:50), full right side
    val ripe = lefts.filter($"ts" <= lit(ts("2026-01-01 11:50:00")))
    val batch = StreamOps.asofJoin(
        ripe.withColumnRenamed("id", "left_id"),
        rights.withColumnRenamed("id", "right_id"),
        Seq("key"), "ts", "ts", Map("right_id" -> "right_id"))
      .select("key", "left_id", "right_id")
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed == Set((1L, 2L, Some(2L)), (1L, 4L, Some(4L))),
      "each ripe click pairs with its latest prior view; pending lefts withheld")
  }

  test("asofJoinStreamFiles generic payload: full sink rows == batch asofJoin " +
       "(the d53 output contract beyond the id triple)") {
    import graft.streaming.BatchFiles
    // same ripeness timeline as the drive test above, but each side
    // carries extra typed payload (string with nulls + double): the FILE
    // SINK itself must land complete typed rows, and a no-match right
    // side must be null across ALL right_* columns
    val lefts = Seq(
      (1L, ts("2026-01-01 10:00:00"), 2L, "c-a", 0.25),
      (1L, ts("2026-01-01 10:05:00"), 4L, null.asInstanceOf[String], 0.5),
      (1L, ts("2026-01-01 11:55:00"), 5L, "c-c", 0.75),
      (9L, ts("2026-01-01 12:00:00"), 7L, "c-d", 1.0))
      .toDF("key", "ts", "id", "note", "score")
    val rights = Seq(
      (1L, ts("2026-01-01 09:58:00"), 2L, null.asInstanceOf[String], 2.5),
      (1L, ts("2026-01-01 10:03:00"), 4L, "v-b", 3.5),
      (9L, ts("2026-01-01 12:00:00"), 3L, "v-c", 4.5))
      .toDF("key", "ts", "id", "note", "score")
    val dir = java.nio.file.Files.createTempDirectory("graft-d53-generic").toString
    BatchFiles.write(lefts, s"$dir/left", "id", splits = 2)
    BatchFiles.write(rights, s"$dir/right", "id", splits = 2)
    val out = StreamOps.asofJoinStreamFiles(spark, s"$dir/left",
      s"$dir/right", s"$dir/ckpt", s"$dir/out", delay = "10 minutes",
      maxFilesPerTrigger = 1)
    val cols = Seq("key", "left_id", "left_note", "left_score", "left_ts",
      "right_id", "right_note", "right_score", "right_ts")
    assert(out.columns.toSeq == cols, s"sink schema: ${out.columns.toSeq}")
    val streamed = out.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val ripe = lefts.filter($"ts" <= lit(ts("2026-01-01 11:50:00")))
    val batch = StreamOps.asofJoin(
        ripe.select($"key", $"ts", $"id".as("left_id"), $"note".as("left_note"),
          $"score".as("left_score")),
        rights.select($"key", $"ts", $"id".as("right_id"), $"note".as("right_note"),
          $"score".as("right_score")),
        Seq("key"), "ts", "ts",
        Map("right_id" -> "right_id", "right_note" -> "right_note",
          "right_score" -> "right_score", "ts" -> "right_ts"))
      .withColumnRenamed("ts", "left_ts")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"full-row diff: extra=${streamed -- batch} missing=${batch -- streamed}")
    // the 10:00 click's as-of view (09:58) has a null note: the match
    // must carry THAT null, not inherit an older right's value
    val m = streamed.find(r => r(1) == 2L).get
    assert(m(5) == 2L && m(6) == null && m(7) == 2.5,
      s"as-of right row rides atomically (null fields included): $m")
  }

  test("retention stress: compact -> ingest -> compact -> expire with a crash mid-expire keeps visibleIndex parity") {
    import graft.streaming.DedupStream
    val dir = java.nio.file.Files.createTempDirectory("graft-retention-stress").toString
    val root = s"$dir/index"
    def visIds(table: String, idc: String) =
      DedupStream.visibleIndex(spark, s"$root/$table")
        .select(idc).distinct().as[Long].collect().sorted.toSeq
    // parity = the three tables describe the SAME doc set
    def assertParity(expect: Seq[Long], clue: String): Unit = {
      assert(visIds("docs", "doc_id") == expect, s"$clue: docs")
      assert(visIds("bands", "id") == expect, s"$clue: bands")
      assert(visIds("fps", "id") == expect, s"$clue: fps")
    }
    def proc(b: org.apache.spark.sql.DataFrame, id: Long) =
      DedupStream.processBatch(b, id, root, "doc_id", "text",
        bands = 8, threshold = 0.4)
    proc(Seq((1L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text"), 0L)
    proc(Seq((2L, "completely unrelated text about spark physical plans here"))
      .toDF("doc_id", "text"), 1L)
    proc(Seq((3L, "a totally different document concerning streaming watermarks"))
      .toDF("doc_id", "text"), 2L)
    assert(DedupStream.compactIndex(spark, root) == Some(1L))
    assertParity(Seq(1L, 2L, 3L), "after first compaction")
    // ingest ON TOP of the compacted index, then compact again: the
    // second epoch (-4) folds the first epoch (-3) + batch 2 together
    proc(Seq((4L, "yet another novel piece of text with its own special words"))
      .toDF("doc_id", "text"), 3L)
    assert(DedupStream.compactIndex(spark, root) == Some(2L))
    assertParity(Seq(1L, 2L, 3L, 4L), "after second compaction")
    // CRASH MID-EXPIRE: expireIndex deletes per table docs->bands->fps;
    // simulate dying after the first delete — docs' epoch gone, bands/
    // fps epochs still present. Every table must still READ cleanly
    // through the same marker (the delete is the commit; transient
    // cross-table asymmetry only affects rows already chosen to die).
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/docs/batch=-4"), true)
    assert(visIds("docs", "doc_id") == Seq(4L),
      "docs reads post-delete state cleanly")
    assert(visIds("bands", "id") == Seq(1L, 2L, 3L, 4L) &&
      visIds("fps", "id") == Seq(1L, 2L, 3L, 4L),
      "undeleted tables keep reading the committed epoch")
    // RE-RUN heals: the docs epoch is already gone (no-op there), the
    // bands/fps epochs drop now — idempotent completion, not an error
    assert(DedupStream.expireIndex(spark, root) == Some(2L))
    assertParity(Seq(4L), "after healed expiry")
    // the loop continues correctly on the healed index: a near-dup of
    // RETAINED doc 4 drops, a near-dup of EXPIRED doc 1 is re-admitted
    // (forgetting is the retention semantics)
    proc(Seq(
      (40L, "yet another novel piece of text with its own special words indeed"),
      (41L, "the quick brown fox jumps over the lazy dog at dawn today"))
      .toDF("doc_id", "text"), 4L)
    assertParity(Seq(4L, 41L), "ingest after crash-healed expiry")
    // and a further compaction generation still commits
    assert(DedupStream.compactIndex(spark, root) == Some(3L))
    assertParity(Seq(4L, 41L), "final compaction is layout-only")
  }

  test("DedupStream.processBatch: crash-replay of a batch rewrites, never double-appends or self-dedups") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-replay").toString
    val root = s"$dir/index"
    def indexIds = spark.read.parquet(s"$root/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text about spark physical plans here"))
      .toDF("doc_id", "text")
    graft.streaming.DedupStream.processBatch(b0, 0L, root, "doc_id", "text",
      bands = 8, threshold = 0.4)
    assert(indexIds == Seq(1L, 2L))
    // full replay of the SAME batch id: the batch must not dedup against
    // its own previous attempt (that would empty the partition and lose
    // the batch) nor append duplicates — the overwrite leaves the index
    // exactly as one clean run would
    graft.streaming.DedupStream.processBatch(b0, 0L, root, "doc_id", "text",
      bands = 8, threshold = 0.4)
    assert(indexIds == Seq(1L, 2L), "replay is a clean rewrite")
    // crash BETWEEN the three writes: simulate by deleting the bands
    // partition of batch 0, then replaying — the rewrite restores it
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/bands/batch=0"), true)
    graft.streaming.DedupStream.processBatch(b0, 0L, root, "doc_id", "text",
      bands = 8, threshold = 0.4)
    assert(indexIds == Seq(1L, 2L))
    assert(spark.read.parquet(s"$root/bands").select("id").distinct()
      .count() == 2, "replay restores the missing sidecar partition")
    // a LATER batch still dedups against batch 0 normally
    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog at dawn today"),
      (11L, "fresh new content appearing for the first time right here"))
      .toDF("doc_id", "text")
    graft.streaming.DedupStream.processBatch(b1, 1L, root, "doc_id", "text",
      bands = 8, threshold = 0.4)
    assert(indexIds == Seq(1L, 2L, 11L),
      "10 near-dups indexed 1 and drops; 11 appends")
  }
}
