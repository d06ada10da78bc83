package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{EngineConfig, ZebraEngine}
import graft.streaming.StreamOps

/** Streaming parity gates: the same transform on a MemoryStream must agree
  * with its batch execution; foreachBatch ingest feeds the engine. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  private val sampleEvents = Seq(
    (ts(5), "click", 1.0), (ts(20), "click", 2.0), (ts(30), "view", 3.0),
    (ts(65), "click", 4.0), (ts(80), "view", 5.0), (ts(90), "view", 6.0))

  test("windowed agg: streaming result equals batch result on the same data") {
    val batch = StreamOps.hourlyEventStats(
      sampleEvents.toDF("ts", "event_type", "value"))
      .orderBy("hour_start", "event_type").collect()

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = StreamOps.hourlyEventStats(mem.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode("complete").start()
    try {
      mem.addData(sampleEvents: _*)
      q.processAllAvailable()
      val stream = spark.table("hourly_test")
        .orderBy("hour_start", "event_type").collect()
      assert(stream.toSeq == batch.toSeq)
      assert(batch.length == 4) // 2 hours x 2 types
    } finally q.stop()
  }

  test("append-mode hourly counts: cross-batch merge, single emission, " +
    "sentinel flush") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val q = StreamOps.hourlyCountsAppend(mem.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("hourly_append_test")
      .outputMode("append").start()
    try {
      // the same hour split across two batches must merge into ONE row
      mem.addData((ts(5), "click"), (ts(20), "click"))
      q.processAllAvailable()
      mem.addData((ts(30), "click"), (ts(65), "view"))
      q.processAllAvailable()
      Seq(3000, 4000).foreach { m => // sentinels advance + flush
        mem.addData((ts(m), "__sentinel")); q.processAllAvailable()
      }
      val rows = spark.table("hourly_append_test")
        .filter(col("event_type") =!= "__sentinel")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1.getTime, t._2))
      assert(rows.toSeq == Seq(
        (ts(0), "click", 3L), (ts(60), "view", 1L)),
        s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("basket pairs stream: cross-batch splits and re-sent items emit " +
    "each pair exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Timestamp)]
    val q = StreamOps.basketPairsStream(
        mem.toDF().toDF("order_id", "part_id", "ts"))
      .writeStream.format("memory").queryName("basket_pairs_test")
      .outputMode("append").start()
    try {
      // order 1 split across batches; order 2 whole; duplicates re-sent
      mem.addData((1L, 10L, ts(0)), (1L, 20L, ts(1)), (2L, 10L, ts(2)))
      q.processAllAvailable()
      mem.addData((1L, 30L, ts(3)), (1L, 10L, ts(4)), (2L, 20L, ts(5)),
        (2L, 10L, ts(6)))
      q.processAllAvailable()
      val got = spark.table("basket_pairs_test")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      // order 1 basket {10,20,30} -> 3 pairs; order 2 {10,20} -> 1 pair;
      // the re-sent (1,10)/(2,10) must add nothing
      assert(got == Seq((10L, 20L), (10L, 20L), (10L, 30L), (20L, 30L)),
        s"got $got")
    } finally q.stop()
  }

  test("basket pairs stream: a retired order's state is removed, and a " +
    "late refill starts a fresh basket without re-emitting old pairs") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Timestamp)]
    // 1-hour TTL so the test can retire order 1 by advancing event time
    val q = StreamOps.basketPairsStream(
        mem.toDF().toDF("order_id", "part_id", "ts"), lateness = "1 hour")
      .writeStream.format("memory").queryName("basket_retire_test")
      .outputMode("append").start()
    try {
      mem.addData((1L, 10L, ts(0)), (1L, 20L, ts(5)))
      q.processAllAvailable()
      // another order far in the future drives the watermark past order
      // 1's last activity + TTL; the next batch fires its timeout
      mem.addData((9L, 70L, ts(300)))
      q.processAllAvailable()
      mem.addData((9L, 80L, ts(301)))
      q.processAllAvailable()
      // order 1 re-arrives with a CURRENT timestamp (not late): its old
      // basket {10,20} is forgotten — part 30 must emit NO pairs
      mem.addData((1L, 30L, ts(302)))
      q.processAllAvailable()
      // a second fresh part pairs only within the NEW basket
      mem.addData((1L, 40L, ts(303)))
      q.processAllAvailable()
      val got = spark.table("basket_retire_test")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == Seq((10L, 20L), (30L, 40L), (70L, 80L)), s"got $got")
      // state is bounded: only the live orders (1 fresh, 9) hold state
      val p = q.lastProgress
      val stateRows = p.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 2, s"expected <=2 state rows after retirement, " +
        s"got $stateRows")
    } finally q.stop()
  }

  test("session windows: closed streaming sessions equal the batch result") {
    // two users; user 1 has a 40-min gap (> 30-min session gap) -> 2 sessions
    val evs = Seq(
      (1L, ts(0)), (1L, ts(10)), (1L, ts(20)),
      (1L, ts(70)), (1L, ts(75)),
      (2L, ts(5)), (2L, ts(25)))
    val batch = StreamOps.sessionize(evs.toDF("user_id", "ts"))
      .orderBy("user_id", "sess_start_us").collect()
    assert(batch.length == 3) // (1: two sessions), (2: one)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = StreamOps.sessionize(mem.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("append").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      // append mode emits a session only once the watermark passes it: a
      // far-future sentinel closes everything real
      mem.addData((-1L, ts(100000)))
      q.processAllAvailable()
      val stream = spark.table("sessions_test")
        .filter(col("user_id") >= 0)
        .orderBy("user_id", "sess_start_us").collect()
      assert(stream.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming dedup: duplicate ids within the watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val q = StreamOps.dedupByIdStream(mem.toDF().toDF("ts", "id"))
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      // (ts(2), "a") re-arrives with the SAME id but a DIFFERENT event time:
      // id-only dedup must still drop it (round 2 keyed on (id, ts) and let
      // it through).
      mem.addData((ts(1), "a"), (ts(1), "a"), (ts(2), "b"), (ts(2), "a"))
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() == 2)
    } finally q.stop()
  }

  test("streaming content dedup: re-crawled text under a NEW id is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, String)]
    val q = StreamOps.dedupByContentStream(mem.toDF().toDF("ts", "id", "text"))
      .writeStream.format("memory").queryName("content_dedup_test")
      .outputMode("append").start()
    try {
      mem.addData(
        (ts(1), "a", "the quick brown fox"),
        (ts(2), "b", "an entirely different doc"),
        (ts(3), "c", "the quick brown fox")) // same content, new id -> dropped
      q.processAllAvailable()
      val kept = spark.table("content_dedup_test")
        .select("id").collect().map(_.getString(0)).toSet
      assert(kept == Set("a", "b"), s"expected first-arrival-wins: $kept")
    } finally q.stop()
  }

  test("session_window boundary: an event exactly gap later MERGES (inclusive end)") {
    // session windows [t, t+gap] merge when next start <= previous end, so
    // the exact-gap event stays in the session; one microsecond past the
    // gap starts a new one. The q_events_sessions_native oracle encodes
    // this as strictly `> gap` in its lag/cumsum twin; the fixture may
    // never produce an exact-gap pair, so plant both boundary sides.
    val gapPlus = new Timestamp(Timestamp.valueOf("2024-01-01 00:30:00").getTime)
    gapPlus.setNanos(1000) // 00:30:00.000001 — 1 us past the gap
    val evs = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 00:30:00")), // exactly gap -> merges
      (2L, Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, gapPlus)) // just past -> new session
    val out = StreamOps.sessionize(evs.toDF("user_id", "ts"))
      .orderBy("user_id", "sess_start_us").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L), (2L, 1L), (2L, 1L)),
      s"boundary semantics drifted: ${out.toSeq}")
  }

  test("sessionize equals the lag/cumsum construction on generated streams") {
    // randomized parity against an independent reference implementation,
    // seeded; inter-event gaps are drawn to include exact-boundary values
    val rnd = new scala.util.Random(7)
    val gapUs = 1800000000L
    val evs = (0 until 4).flatMap { user =>
      var t = 1700000000000000L + user * 1000L
      (0 until 50).map { _ =>
        t += (rnd.nextInt(5) match {
          case 0 => gapUs            // exactly the gap
          case 1 => gapUs + 1000000L // just past
          case 2 => gapUs - 1000000L // just inside
          case _ => rnd.nextLong(gapUs) + 1L
        })
        (user.toLong, new Timestamp(t / 1000L))
      }
    }
    // reference: sort per user, same session while diff <= gap (inclusive
    // merge — the session_window boundary), aggregate
    val expected = evs.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val ts = rows.map(_._2.getTime * 1000L).sorted
      val sessions = scala.collection.mutable.ArrayBuffer.empty[Vector[Long]]
      ts.foreach { t =>
        if (sessions.nonEmpty && t - sessions.last.last <= gapUs)
          sessions(sessions.length - 1) = sessions.last :+ t
        else sessions += Vector(t)
      }
      sessions.map(s => (u, s.head, s.length.toLong,
        ((s.last - s.head) / 100L) / 10000.0))
    }.sortBy(r => (r._1, r._2))
    val got = StreamOps.sessionize(evs.toDF("user_id", "ts"))
      .orderBy("user_id", "sess_start_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == expected, s"mismatch:\ngot      ${got.toSeq.take(5)}...\nexpected ${expected.take(5)}...")
  }

  test("per-key cap sampling: at most N records pass per key, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, String)]
    val q = StreamOps.capPerKey(
      mem.toDF().toDF("key", "ts", "id"), cap = 2)
      .writeStream.format("memory").queryName("cap_test")
      .outputMode("append").start()
    try {
      // batch 1: key a gets 3 records (one over budget), key b gets 1
      mem.addData(
        ("a", ts(1), "a1"), ("a", ts(2), "a2"), ("a", ts(3), "a3"),
        ("b", ts(1), "b1"))
      q.processAllAvailable()
      // batch 2: key a is already exhausted, key b has budget for one more
      mem.addData(("a", ts(4), "a4"), ("b", ts(5), "b2"), ("b", ts(6), "b3"))
      q.processAllAvailable()
      val out = spark.table("cap_test").collect()
        .map(r => r.getString(2)).toSet
      // earliest event times win the budget; later records are dropped
      assert(out == Set("a1", "a2", "b1", "b2"), s"got $out")
    } finally q.stop()
  }

  test("streaming as-of equals the batch as-of on out-of-order batches") {
    implicit val sqlCtx = spark.sqlContext
    def usOf(min: Int): Long = ts(min).getTime * 1000L
    // (key, ts, us, side 0=right/1=left, id). The right row id=100 arrives
    // a batch LATE (within the watermark) and is the answer for left 201 —
    // so the buffering, not just the final flush, is what's under test.
    val rows = Seq(
      (1L, 12, 0, 100L), (1L, 50, 0, 101L),                   // rights, key 1
      (1L, 5, 1, 200L), (1L, 15, 1, 201L),                    // lefts, key 1
      (1L, 50, 1, 202L), (1L, 70, 1, 203L),
      (2L, 30, 0, 102L), (2L, 20, 1, 204L))                   // key 2: right after left
      .map { case (k, m, s, i) => (k, ts(m), usOf(m), s, i) }

    val mem = MemoryStream[(Long, Timestamp, Long, Int, Long)]
    val q = StreamOps.asofStream(
      mem.toDF().toDF("key", "ts", "us", "side", "id"))
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      // out-of-order arrival: the late click at 10 lands in batch 2
      val (b2, b1) = rows.partition(r => r._5 == 100L)
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      // sentinel right far ahead pushes the watermark past every left
      mem.addData((9L, ts(300), usOf(300), 0, 999L))
      q.processAllAvailable()

      val got = spark.table("asof_stream")
        .filter(col("key") < 9)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))
        .sortBy(r => (r._1, r._2)).toSeq

      val left = rows.filter(_._4 == 1)
        .map(r => (r._1, r._3, r._5)).toDF("key", "us", "id")
      val right = rows.filter(_._4 == 0)
        .map(r => (r._1, r._3, r._5)).toDF("key", "us", "match_id")
      val want = graft.ops.AsofJoin.asof(left, right, Seq("key"), "us")
        .collect() // columns: key, us, id, match_id
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))
        .sortBy(r => (r._1, r._2)).toSeq

      assert(got.nonEmpty && got == want, s"\ngot  $got\nwant $want")
      // every left emitted exactly once
      assert(got.length == rows.count(_._4 == 1))
    } finally q.stop()
  }

  test("streaming range join equals the batch binned range join") {
    implicit val sqlCtx = spark.sqlContext
    def usOf(min: Int): Long = ts(min).getTime * 1000L
    // points (user, min, point_id); windows open at (user, min, window_id)
    val points = Seq((1L, 10, 500L), (1L, 65, 501L), (1L, 130, 502L),
      (2L, 30, 503L), (2L, 95, 504L))
    val opens = Seq((1L, 10, 900L), (1L, 120, 901L), (2L, 40, 902L))

    val pMem = MemoryStream[(Long, Timestamp, Long)]
    val oMem = MemoryStream[(Long, Timestamp, Long)]
    val q = StreamOps.rangeJoinStream(
      pMem.toDF().toDF("user_id", "ts", "point_id"),
      oMem.toDF().toDF("o_user_id", "open_ts", "window_id"))
      .select("point_id", "window_id")
      .writeStream.format("memory").queryName("range_stream")
      .outputMode("append").start()
    try {
      // batch 1 keeps event times low so the global watermark stays at 0;
      // batch 2 then delivers window 900 LATE (after the points it
      // contains) but still above the watermark — the buffered-state path
      val early = Set(500L, 501L, 503L)
      pMem.addData(points.filter(p => early(p._3))
        .map(p => (p._1, ts(p._2), p._3)): _*)
      oMem.addData((opens(2)._1, ts(opens(2)._2), opens(2)._3))
      q.processAllAvailable()
      pMem.addData(points.filterNot(p => early(p._3))
        .map(p => (p._1, ts(p._2), p._3)): _*)
      oMem.addData(opens.take(2).map(o => (o._1, ts(o._2), o._3)): _*)
      q.processAllAvailable()
      val got = spark.table("range_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

      val want = graft.ops.RangeJoin.pointInInterval(
        points.map(p => (p._1, usOf(p._2), p._3)).toDF("user_id", "us", "point_id"),
        opens.map(o => (o._1, usOf(o._2), usOf(o._2) + 3600000000L, o._3))
          .toDF("user_id", "lo", "hi", "window_id"),
        Seq("user_id"), "us", "lo", "hi", binWidth = 3600000000L)
        .select("point_id", "window_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

      assert(got.nonEmpty && got == want, s"\ngot  $got\nwant $want")
      // the point at exactly open_ts (10,10) and at exactly the window end
      // must both be present (inclusive boundaries)
      assert(got.contains((500L, 900L)))
    } finally q.stop()
  }

  test("stream-static enrichment equals the batch broadcast join") {
    val dim = Seq(("click", 10L), ("view", 20L)).toDF("event_type", "weight")
    val batch = StreamOps.enrichStream(
      sampleEvents.toDF("ts", "event_type", "value"), dim, "event_type")
      .select("event_type", "value", "weight")
      .orderBy("value").collect()

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = StreamOps.enrichStream(
      mem.toDF().toDF("ts", "event_type", "value"), dim, "event_type")
      .select("event_type", "value", "weight")
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    try {
      mem.addData(sampleEvents: _*)
      q.processAllAvailable()
      val stream = spark.table("enrich_test").orderBy("value").collect()
      assert(stream.toSeq == batch.toSeq)
      assert(batch.length == sampleEvents.length)
    } finally q.stop()
  }

  test("streaming top-k leaderboard: final state equals the batch top-k") {
    // two queries, scored pairs arriving across three micro-batches with
    // ties (same dist, different id) and late improvements
    val all = Seq(
      (1L, 10L, 0.5), (1L, 11L, 0.3), (2L, 20L, 0.9),
      (1L, 12L, 0.3), (1L, 13L, 0.8), (2L, 21L, 0.1),
      (1L, 14L, 0.1), (2L, 22L, 0.1), (2L, 23L, 0.9))
    val k = 3
    val expected = all.groupBy(_._1).flatMap { case (q, rows) =>
      rows.map(r => (r._3, r._2)).sorted.take(k).zipWithIndex
        .map { case ((d, id), i) => (q, id, d, (i + 1).toLong) }
    }.toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)]
    val q = StreamOps.topKStream(
      mem.toDF().toDF("query_id", "vec_id", "dist"), k)
      .writeStream.format("memory").queryName("topk_test")
      .outputMode("update").start()
    try {
      all.grouped(3).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
      // Update-mode memory sink appends each refresh; the LAST batch that
      // touched a query holds its final leaderboard. Dedup to latest rank
      // set per query via max batch id per query.
      val sunk = spark.table("topk_test")
      val latest = sunk.collect()
      // reconstruct: for each (query_id, rk) keep the LAST occurrence
      val finalRows = latest.zipWithIndex
        .groupBy(r => (r._1.getLong(0), r._1.getLong(3)))
        .map { case (_, rs) => rs.maxBy(_._2)._1 }
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      assert(finalRows == expected, s"got $finalRows want $expected")
    } finally q.stop()
  }

  test("foreachBatch vector ingest: stream -> engine -> query round trip") {
    val path = SparkTestBase.tmpDir("test_stream_engine")
    val ckpt = SparkTestBase.tmpDir("test_stream_ckpt")
    ZebraEngine.destroy(path)
    ZebraEngine.destroy(ckpt)
    val eng = ZebraEngine.create(spark, path, EngineConfig(dim = 4))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Array[Float])]
    val q = StreamOps.ingestVectors(
      mem.toDF().toDF("id", "embedding"), eng, ckpt)
    try {
      mem.addData(("a", Array(1f, 0f, 0f, 0f)), ("b", Array(0f, 1f, 0f, 0f)))
      q.processAllAvailable()
      mem.addData(("c", Array(0f, 0f, 1f, 0f)))
      q.processAllAvailable()
      assert(eng.count() == 3)
      val queries = Seq(("qa", Array(1f, 0f, 0f, 0f))).toDF("query_id", "embedding")
      val top = eng.queryVectors(queries, k = 1).collect()
      assert(top.head.getAs[String]("id") == "a")
      assert(top.head.getAs[Double]("dist") == 0.0)
    } finally {
      q.stop()
      ZebraEngine.destroy(path)
      ZebraEngine.destroy(ckpt)
    }
  }

  test("streaming SCD2: closed intervals equal the batch history") {
    implicit val sqlCtx = spark.sqlContext
    // key 1: A@0 -> A@1 (no-op) -> B@2; key 2: X@0 only; key 3: A -> B -> A
    val wave1 = Seq((1L, 0, "A", 10.0), (2L, 0, "X", 1.0), (3L, 0, "A", 1.0))
    val wave2 = Seq((1L, 1, "A", 10.0), (3L, 1, "B", 1.0))
    val wave3 = Seq((1L, 2, "B", 20.0), (3L, 2, "A", 1.0))
    val mem = MemoryStream[(Long, Int, String, Double)]
    val q = StreamOps.scd2Stream(mem.toDF().toDF("k", "seq", "st", "price"))
      .writeStream.format("memory").queryName("scd2_test")
      .outputMode("append").start()
    try {
      Seq(wave1, wave2, wave3).foreach { w =>
        mem.addData(w: _*); q.processAllAvailable()
      }
      val stream = spark.table("scd2_test")
        .orderBy("k", "ver")
        .select("k", "ver", "valid_from", "valid_to", "st", "price")
        .collect().toSeq
      val batch = graft.ops.Incremental.scd2(
        (wave1 ++ wave2 ++ wave3).toDF("k", "seq", "st", "price"),
        "k", "seq", Seq("st", "price"))
        .filter(!col("is_current"))
        .select(col("k"), col("ver"), col("valid_from").cast("long"),
          col("valid_to").cast("long"), col("st"), col("price"))
        .orderBy("k", "ver")
        .collect().toSeq
      assert(stream.map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong,
        r.getInt(3).toLong, r.getString(4), r.getDouble(5))).toSeq ==
        batch.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getDouble(5))).toSeq)
      // key 2 never closed a version: absent from the stream output
      assert(!stream.exists(_.getLong(0) == 2L))
    } finally q.stop()
  }

  test("maintained rollup: streamed deltas converge to the batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val store = SparkTestBase.tmpDir("rollup_store")
    val ckpt = SparkTestBase.tmpDir("rollup_ckpt")
    val wave1 = Seq(("a", 10L), ("a", 5L), ("b", 1L))
    val wave2 = Seq(("a", 2L), ("c", 7L))
    val mem = MemoryStream[(String, Long)]
    val q = StreamOps.maintainRollup(mem.toDF().toDF("k", "v"),
      store, ckpt, keys = Seq("k"), sumCols = Seq("v"))
    try {
      mem.addData(wave1: _*)
      q.processAllAvailable()
      mem.addData(wave2: _*)
      q.processAllAvailable()
      val got = StreamOps.currentRollup(spark, store).get.orderBy("k").collect()
      val want = graft.ops.Incremental.partials(
        (wave1 ++ wave2).toDF("k", "v"), Seq("k"), Seq("v"))
        .orderBy("k").collect()
      assert(got.toSeq == want.toSeq)
    } finally q.stop()
  }

  test("attribution stream: cross-batch anchor lowering, exact credit split") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Long, String)]
    val sink = "attr_stream_spec_sink"
    val q = StreamOps.withShufflePartitions(spark, 4) {
      StreamOps.attributionStream(
        mem.toDF().toDF("ts", "user_id", "event_id", "event_type"),
        lookbackUs = 86400000000L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
    }
    try {
      // batch 1: user 1 touch + a LATE anchor candidate; user 2 touches
      // only; user 3 purchase only
      mem.addData(Seq(
        (ts(10), 1L, 100L, "view"), (ts(50), 1L, 101L, "purchase"),
        (ts(15), 2L, 200L, "click"), (ts(12), 3L, 300L, "purchase")))
      q.processAllAvailable()
      // batch 2: an EARLIER purchase for user 1 arrives in a later batch
      // (inside lateness) and must LOWER the anchor to t=30, excluding
      // the t=35 click arriving alongside it (>= final anchor)
      mem.addData(Seq(
        (ts(30), 1L, 102L, "purchase"), (ts(35), 1L, 103L, "click"),
        (ts(20), 1L, 104L, "click")))
      q.processAllAvailable()
      // sentinels: advance the watermark past every anchor, then fire
      mem.addData(Seq((ts(24 * 60 + 120), -1L, -2L, "zz_sentinel")))
      q.processAllAvailable()
      mem.addData(Seq((ts(24 * 60 + 180), -1L, -3L, "zz_sentinel")))
      q.processAllAvailable()
      val got = spark.table(sink)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSet
      // user 1: anchor 30, touches view@10 (rank 1), click@20 (rank 2) —
      // first: view 10000; last: click 10000; linear 5000 each.
      // users 2 (no purchase) and 3 (no touches) emit nothing.
      val want = Set(
        (1L, "view", "first_touch", 10000L), (1L, "click", "first_touch", 0L),
        (1L, "view", "last_touch", 0L), (1L, "click", "last_touch", 10000L),
        (1L, "view", "linear", 5000L), (1L, "click", "linear", 5000L))
      assert(got == want, s"got $got")
    } finally q.stop()
  }

  test("maintained components: epochs fold to the union graph; replay no-ops") {
    import spark.implicits._
    val store = SparkTestBase.tmpDir("cc_store")
    def current() = StreamOps.currentComponents(spark, store).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // epoch 0: two separate components
    StreamOps.applyComponentsBatch(
      Seq((1L, 2L), (10L, 11L)).toDF("src", "dst"), 0L, store)
    assert(current() == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    // replayed epoch id with DIFFERENT content must be ignored entirely
    StreamOps.applyComponentsBatch(
      Seq((2L, 10L)).toDF("src", "dst"), 0L, store)
    assert(current() == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L),
      "replayed epoch re-applied")
    // epoch 1: a bridging edge merges the components retroactively
    StreamOps.applyComponentsBatch(
      Seq((11L, 2L)).toDF("src", "dst"), 1L, store)
    assert(current() ==
      Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L))
    // epoch 2: brand-new nodes join without touching the merged component
    StreamOps.applyComponentsBatch(
      Seq((50L, 51L)).toDF("src", "dst"), 2L, store)
    assert(current() ==
      Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 50L -> 50L, 51L -> 50L))
  }

  test("maintained rollup: a replayed epoch is a no-op (no double count)") {
    import spark.implicits._
    val store = SparkTestBase.tmpDir("rollup_replay")
    def current() = StreamOps.currentRollup(spark, store).get.orderBy("k")
    val batch = Seq(("a", 10L), ("b", 1L)).toDF("k", "v")
    StreamOps.applyRollupBatch(batch, 0L, store, Seq("k"), Seq("v"))
    val once = current().collect().toSeq
    // failure recovery re-delivers the SAME epoch id — must not re-apply
    StreamOps.applyRollupBatch(batch, 0L, store, Seq("k"), Seq("v"))
    val twice = current().collect().toSeq
    assert(twice == once, "replayed epoch double-counted")
    // a crash mid-write leaves a version dir WITHOUT _SUCCESS: invisible
    // to readers, and the replayed epoch overwrites it cleanly
    Seq(("z", 99L)).toDF("k", "sum_v").write.parquet(s"$store/v=1")
    new java.io.File(s"$store/v=1/_SUCCESS").delete()
    assert(current().collect().toSeq == once, "partial version became visible")
    // the next epoch DOES apply (over the partial's dir)
    StreamOps.applyRollupBatch(Seq(("a", 1L)).toDF("k", "v"), 1L, store,
      Seq("k"), Seq("v"))
    val after = current().collect()
    assert(after.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 2L, 11L), ("b", 1L, 1L)))
  }

  /** nearDupPairsStream parity: the streaming banded-minhash estimate must
    * equal an INDEPENDENT derivation of the same formula — signatures via
    * the Catalyst HOF columns (the batch pipeline's shape), banding +
    * agreement counted driver-side. This cross-checks the op's hand-rolled
    * JVM signature UDF against the declarative md5 column semantics the
    * DuckDB oracle replays, and proves cross-batch state pairing (every
    * planted twin arrives in a later micro-batch than its original). */
  test("nearDupPairsStream equals the batch banded-estimate pair set") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = SparkTestBase.sf0001
    val docs = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val planted = docs.unionAll(
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" zzztwin")).as("text")))

    // Independent expected set: HOF-column signatures, driver-side bands.
    val sigCol = transform(sequence(lit(1), lit(16)),
      j => array_min(transform(graft.catalog.DedupQueries.shingleCol,
        sh => md5(concat(j.cast("string"), lit("|"), sh).cast("binary")))))
    val sigs = planted.withColumn("sig", sigCol)
      .select(col("doc_id"), col("sig"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
      .sortBy(_._1)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val buckets = scala.collection.mutable.Map
      .empty[(Int, String), List[Long]]
    val sigById = sigs.toMap
    val expected = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    sigs.foreach { case (id, sig) =>
      (0 until 4).foreach { b =>
        val key = (b, md5hex(sig.slice(4 * b, 4 * b + 4).mkString("")))
        buckets.getOrElse(key, Nil).foreach { pid =>
          val agree = sigById(pid).zip(sig).count { case (x, y) => x == y }
          if (agree >= 13) expected += ((pid, id, agree.toLong))
        }
        buckets(key) = id :: buckets.getOrElse(key, Nil)
      }
    }

    // Stream the planted corpus in 4 doc_id-ordered micro-batches.
    val rows = planted
      .select(timestamp_micros((col("doc_id") + 1000000L) * 1000000L).as("ts"),
        col("doc_id"), col("text"))
      .as[(java.sql.Timestamp, Long, String)].collect().sortBy(_._2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = StreamOps.withRocksDbStateStore(spark) {
      graft.streaming.StreamOps
        .nearDupPairsStream(mem.toDF().toDF("ts", "doc_id", "text"))
        .writeStream.format("memory").queryName("neardup_spec_sink")
        .outputMode("append").start()
    }
    try {
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach { chunk =>
        mem.addData(chunk.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("neardup_spec_sink")
      .select("doc_a", "doc_b", "n_agree").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(got == expected.toSet)
    // Cross-batch coverage: at least one pair's original arrived in the
    // first micro-batch while its twin arrived in the last.
    val chunkSize = math.max(1, rows.length / 4 + 1)
    assert(got.exists { case (a, b, _) =>
      a < rows(chunkSize - 1)._2 && b >= 100000
    }, "no pair spans first and last micro-batch")
  }

  test("embNearDupStream: cross-batch twin pairs; stale priors expire with " +
      "the watermark") {
    val dim = 8
    def vec(seed: Int): Seq[Float] =
      (0 until dim).map(i => (((seed * 31 + i) * 2654435761L % 2001) - 1000)
        .toFloat / 1000f)
    val base = Seq(0L -> vec(1), 1L -> vec(2), 2L -> vec(3))
      .toDF("vec_id", "embedding")
    val model = graft.index.LshForest.build(base)
    val cuts = Map.empty[(Int, Int), (Int, Array[Double])]
    val day = 86400000L

    def run(batches: Seq[Seq[(Timestamp, Long, Seq[Float])]],
        lateness: String, sink: String): Set[(Long, Long, Long)] = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(Timestamp, Long, Seq[Float])]
      StreamOps.withRocksDbStateStore(spark) {
        val q = StreamOps
          .embNearDupStream(mem.toDF().toDF("ts", "vec_id", "embedding"),
            model, cuts, lateness = lateness)
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
        finally q.stop()
      }
      spark.table(sink).distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }

    // Twin of vec 0 arrives two batches later, within the horizon: pairs.
    val t0 = new Timestamp(30L * day)
    val got = run(Seq(
      Seq((t0, 0L, vec(1)), (t0, 2L, vec(3))),
      Seq((new Timestamp(30L * day + 3600000L), 1L, vec(2))),
      Seq((new Timestamp(30L * day + 7200000L), 10L, vec(1)))),
      lateness = "7 days", sink = "embdedup_spec_pair")
    assert(got == Set((0L, 10L, 10000L)), s"got $got")

    // Same twin 10 days out with a 1-hour horizon, after a watermark-
    // advancing filler batch: the prior expired, nothing pairs.
    val gotExpired = run(Seq(
      Seq((t0, 0L, vec(1))),
      Seq((new Timestamp(40L * day), 5L, vec(4))),
      Seq((new Timestamp(40L * day + 1000L), 10L, vec(1)))),
      lateness = "1 hour", sink = "embdedup_spec_expired")
    assert(gotExpired.isEmpty, s"stale prior paired: $gotExpired")
  }

  test("embNearDupStream occupancy ring: beyond-cap priors age out " +
      "oldest-first") {
    val dim = 8
    val e: Seq[Float] = (0 until dim).map(i => (i + 1).toFloat / 10f)
    val base = Seq(0L -> e).toDF("vec_id", "embedding")
    val model = graft.index.LshForest.build(base)
    val cuts = Map.empty[(Int, Int), (Int, Array[Double])]
    val t0 = 30L * 86400000L
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Seq[Float])]
    StreamOps.withRocksDbStateStore(spark) {
      val q = StreamOps
        .embNearDupStream(mem.toDF().toDF("ts", "vec_id", "embedding"),
          model, cuts, lateness = "7 days", occupancyCap = 2)
        .writeStream.format("memory").queryName("embdedup_spec_ring")
        .outputMode("append").start()
      try {
        // three identical vectors fill the bucket past cap = 2 …
        mem.addData(Seq(
          (new Timestamp(t0), 0L, e),
          (new Timestamp(t0 + 1000L), 1L, e),
          (new Timestamp(t0 + 2000L), 2L, e)))
        q.processAllAvailable()
        // … then a probe: the two NEWEST priors pair, the evicted
        // oldest (vec 0) does not
        mem.addData(Seq((new Timestamp(t0 + 3000L), 10L, e)))
        q.processAllAvailable()
      } finally q.stop()
    }
    val got = spark.table("embdedup_spec_ring").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // each arrival compares against the (≤ cap) newest live priors at its
    // moment — the per-arrival ring (round 12, batch-framing-invariant):
    assert(got.contains((0L, 1L)) && got.contains((0L, 2L)) &&
      got.contains((1L, 2L)), s"within-batch pairs missing: $got")
    assert(got.contains((1L, 10L)) && got.contains((2L, 10L)),
      s"newest priors must pair with the probe: $got")
    assert(!got.contains((0L, 10L)),
      s"evicted-oldest prior paired past the cap: $got")
  }

  test("nearDupPairsStream occupancy ring: hot-bucket priors age out " +
      "oldest-first") {
    // four IDENTICAL texts land in the same band buckets (the
    // boilerplate hot-bucket shape); cap 2 keeps only the newest two
    val text = (0 until 40).map(i => s"tmpl$i").mkString(" ")
    val t0 = 30L * 86400000L
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = StreamOps.withRocksDbStateStore(spark) {
      StreamOps
        .nearDupPairsStream(mem.toDF().toDF("ts", "doc_id", "text"),
          lateness = "7 days", occupancyCap = 2)
        .writeStream.format("memory").queryName("neardup_spec_ring")
        .outputMode("append").start()
    }
    try {
      mem.addData(Seq(
        (new Timestamp(t0), 0L, text),
        (new Timestamp(t0 + 1000L), 1L, text),
        (new Timestamp(t0 + 2000L), 2L, text)))
      q.processAllAvailable()
      mem.addData(Seq((new Timestamp(t0 + 3000L), 10L, text)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("neardup_spec_ring").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // per-arrival ring: arrival i compares against the ≤ cap newest priors
    assert(got.contains((0L, 1L)) && got.contains((0L, 2L)) &&
      got.contains((1L, 2L)), s"within-batch pairs missing: $got")
    assert(got.contains((1L, 10L)) && got.contains((2L, 10L)),
      s"newest priors must pair with the probe: $got")
    assert(!got.contains((0L, 10L)),
      s"evicted-oldest prior paired past the cap: $got")
  }

  test("funnelStream equals the batch funnel per user, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val W = 30L * 60 * 1000000 // 30-minute funnel window in µs
    // u1 completes across THREE batches; u2 clicks but purchases outside
    // the window; u3 has click before its view (non-qualifying) then a
    // qualifying one; u4 never views.
    val rows = Seq(
      (1L, 5, "view"), (1L, 10, "click"), (1L, 20, "purchase"),
      (2L, 5, "view"), (2L, 10, "click"), (2L, 50, "purchase"),
      (3L, 4, "click"), (3L, 6, "view"), (3L, 12, "click"),
      (4L, 5, "click"), (4L, 6, "purchase"))
      .map { case (u, m, et) => (ts(m), u, et) }
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = StreamOps.funnelStream(
      mem.toDF().toDF("ts", "user_id", "event_type"),
      steps = Seq("view", "click", "purchase"), windowUs = W)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      rows.grouped(4).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
      // two sentinels: advance the watermark past every window, then fire
      // the timeouts that emit (sentinel type never reaches the state op)
      mem.addData((ts(300), -1L, "zz"))
      q.processAllAvailable()
      mem.addData((ts(330), -1L, "zz"))
      q.processAllAvailable()
      val got = spark.table("funnel_stream")
        .select("user_id", "reached", "anchor_us")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      // batch reference over the same events
      val batch = graft.ops.Funnel.funnelSteps(
        rows.toDF("ts", "user_id", "event_type")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_type")),
        Seq("view", "click", "purchase"), W)
        .collect().map { r =>
          val reached =
            if (!r.isNullAt(3)) 3 else if (!r.isNullAt(2)) 2 else 1
          (r.getLong(0), reached, r.getLong(1))
        }.sortBy(_._1).toSeq
      assert(got == batch, s"\ngot   $got\nbatch $batch")
      assert(got.map(_._1) == Seq(1L, 2L, 3L), "one row per step-1 user")
      // each emitted exactly once (no tombstone double-fire)
      assert(got.size == got.map(_._1).distinct.size)
    } finally q.stop()
  }

  test("funnelStream supports a REPEATED step type (view, click, click)") {
    // A last-wins type->index map silently emptied the sink for funnels
    // that repeat a step (idxOf("click") shadowed its first position).
    implicit val sqlCtx = spark.sqlContext
    val W = 30L * 60 * 1000000
    val rows = Seq(
      (1L, 5, "view"), (1L, 10, "click"), (1L, 20, "click"), // completes
      (2L, 5, "view"), (2L, 10, "click")) // one click only -> step 2
      .map { case (u, m, et) => (ts(m), u, et) }
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = StreamOps.funnelStream(
      mem.toDF().toDF("ts", "user_id", "event_type"),
      steps = Seq("view", "click", "click"), windowUs = W)
      .writeStream.format("memory").queryName("funnel_stream_rep")
      .outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      mem.addData((ts(300), -1L, "zz"))
      q.processAllAvailable()
      mem.addData((ts(330), -1L, "zz"))
      q.processAllAvailable()
      val got = spark.table("funnel_stream_rep")
        .select("user_id", "reached").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
      assert(got == Seq((1L, 3), (2L, 2)), s"got $got")
      // batch agreement on the same repeated-step funnel
      val batch = graft.ops.Funnel.funnelCounts(
        rows.toDF("ts", "user_id", "event_type")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_type")),
        Seq("view", "click", "click"), W).head()
      assert((batch.getLong(0), batch.getLong(1), batch.getLong(2)) ==
        ((2L, 2L, 1L)))
    } finally q.stop()
  }

  test("streaming theta sketch: cross-batch state merges without double count") {
    // same user re-appearing in the SAME hour from a LATER micro-batch
    // must not inflate the sketch (state-store buffer re-merge is a set
    // union); a genuinely new user must grow it by exactly one — theta
    // stays in exact mode at these cardinalities, so estimates are exact
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val q = mem.toDF().toDF("ts", "user_id")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(expr("theta_sketch_agg(user_id)").as("sk"))
      .writeStream.format("memory").queryName("theta_stream_test")
      .outputMode("complete").start()
    try {
      mem.addData((ts(5), 1L), (ts(10), 2L))
      q.processAllAvailable()
      mem.addData((ts(15), 1L), (ts(20), 3L), (ts(70), 1L)) // dup, new, new hour
      q.processAllAvailable()
      val got = spark.table("theta_stream_test")
        .select(col("h"), expr("theta_sketch_estimate(sk)").cast("long").as("n"))
        .orderBy("h").collect().map(r => r.getLong(1)).toSeq
      assert(got == Seq(3L, 1L))
    } finally q.stop()
  }

  // -----------------------------------------------------------------------
  // Checkpoint-restart recovery for the transformWithState operators (the
  // round-11 rewrite's untested surface): stop each near-dup stream
  // mid-feed, restart a NEW query from the SAME checkpoint, and assert the
  // union of emitted pairs is identical to the uninterrupted run — the
  // RocksDB ListState (live priors), the ValueState'd timer bookkeeping,
  // and the registered timers must all restore. The post-restart chunks
  // include BOTH a pair against pre-restart state (state restored) and a
  // watermark jump + stale twin that must NOT pair (expiry still enforced
  // after restore).
  // -----------------------------------------------------------------------

  private def tmpCkpt(tag: String): String =
    SparkTestBase.tmpDir(s"graft_ckpt_$tag")

  test("embNearDupStream: checkpoint restart restores state + timers; " +
      "pair set equals the uninterrupted run") {
    val dim = 8
    def vec(seed: Int): Seq[Float] =
      (0 until dim).map(i => (((seed * 31 + i) * 2654435761L % 2001) - 1000)
        .toFloat / 1000f)
    val base = Seq(0L -> vec(1), 1L -> vec(2), 2L -> vec(3))
      .toDF("vec_id", "embedding")
    val model = graft.index.LshForest.build(base)
    val cuts = Map.empty[(Int, Int), (Int, Array[Double])]
    val day = 86400000L
    val t0 = 30L * day
    // chunks 1–2 feed priors; chunk 3 pairs a twin against a CHUNK-1 prior
    // (crosses the restart boundary); chunk 4 jumps the watermark 40 days
    // and then offers a twin of vec 0 — expired under the 7-day horizon,
    // so it must NOT pair whether or not the query was restarted.
    val chunks: Seq[Seq[(Timestamp, Long, Seq[Float])]] = Seq(
      Seq((new Timestamp(t0), 0L, vec(1)), (new Timestamp(t0 + 1000L), 1L, vec(2))),
      Seq((new Timestamp(t0 + 2000L), 2L, vec(3))),
      Seq((new Timestamp(t0 + 3000L), 10L, vec(1)),
        (new Timestamp(t0 + 4000L), 11L, vec(2))),
      // the watermark jump gets its OWN batch (the watermark only advances
      // at batch end), so the stale twin in the LAST chunk meets an
      // already-advanced watermark: priors expired, no pair — timers + the
      // in-call prune must both survive the restore
      Seq((new Timestamp(t0 + 70L * day), 50L, vec(9))),
      Seq((new Timestamp(t0 + 70L * day + 1000L), 12L, vec(1))))

    def run(stopAfter: Option[Int], tag: String): Set[(Long, Long, Long)] = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ckpt = tmpCkpt(tag)
      val outDir = tmpCkpt(s"${tag}_out")
      val mem = MemoryStream[(Timestamp, Long, Seq[Float])]
      // parquet FILE sink: the memory sink refuses checkpoint recovery;
      // the file sink's metadata log is the production recovery surface
      def start() = StreamOps
        .embNearDupStream(mem.toDF().toDF("ts", "vec_id", "embedding"),
          model, cuts, lateness = "7 days")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      StreamOps.withRocksDbStateStore(spark) {
        val q1 = start()
        val boundary = stopAfter.getOrElse(chunks.length)
        try chunks.take(boundary).foreach { c =>
          mem.addData(c); q1.processAllAvailable()
        } finally q1.stop()
        if (boundary < chunks.length) {
          val q2 = start() // SAME checkpoint dir — recovery path
          try chunks.drop(boundary).foreach { c =>
            mem.addData(c); q2.processAllAvailable()
          } finally q2.stop()
        }
      }
      spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }

    val uninterrupted = run(None, "full")
    val restarted = run(Some(2), "half")
    assert(uninterrupted == Set((0L, 10L, 10000L), (1L, 11L, 10000L)),
      s"unexpected uninterrupted pairs: $uninterrupted")
    assert(restarted == uninterrupted,
      s"restart changed the pair set: $restarted vs $uninterrupted")
  }

  test("nearDupPairsStream: checkpoint restart restores state + timers; " +
      "pair set equals the uninterrupted run") {
    val day = 86400000L
    val t0 = 30L * day
    def doc(i: Int): String =
      (0 until 40).map(w => s"w${i}x$w").mkString(" ")
    def twin(i: Int): String = doc(i) + " zzztwin"
    val chunks: Seq[Seq[(Timestamp, Long, String)]] = Seq(
      Seq((new Timestamp(t0), 0L, doc(1)), (new Timestamp(t0 + 1000L), 1L, doc(2))),
      Seq((new Timestamp(t0 + 2000L), 2L, doc(3))),
      Seq((new Timestamp(t0 + 3000L), 10L, twin(1)),
        (new Timestamp(t0 + 4000L), 11L, twin(2))),
      // watermark jump in its own batch, then the stale twin (see the
      // vector test's comment)
      Seq((new Timestamp(t0 + 70L * day), 50L, doc(9))),
      Seq((new Timestamp(t0 + 70L * day + 1000L), 12L, twin(1))))

    def run(stopAfter: Option[Int], tag: String): Set[(Long, Long)] = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ckpt = tmpCkpt(tag)
      val outDir = tmpCkpt(s"${tag}_out")
      val mem = MemoryStream[(Timestamp, Long, String)]
      def start() = StreamOps
        .nearDupPairsStream(mem.toDF().toDF("ts", "doc_id", "text"),
          lateness = "7 days")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      StreamOps.withRocksDbStateStore(spark) {
        val q1 = start()
        val boundary = stopAfter.getOrElse(chunks.length)
        try chunks.take(boundary).foreach { c =>
          mem.addData(c); q1.processAllAvailable()
        } finally q1.stop()
        if (boundary < chunks.length) {
          val q2 = start()
          try chunks.drop(boundary).foreach { c =>
            mem.addData(c); q2.processAllAvailable()
          } finally q2.stop()
        }
      }
      spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }

    val uninterrupted = run(None, "full")
    val restarted = run(Some(2), "half")
    assert(uninterrupted == Set((0L, 10L), (1L, 11L)),
      s"unexpected uninterrupted pairs: $uninterrupted")
    assert(restarted == uninterrupted,
      s"restart changed the pair set: $restarted vs $uninterrupted")
  }

  test("nearDupPairsStream ring is batch-framing-invariant: one batch vs " +
      "three batches emit the identical pair set") {
    // six identical texts through a cap-2 ring: with the per-arrival trim
    // (round 12) the compare set an arrival sees is the newest cap live
    // priors REGARDLESS of micro-batch chunking — previously same-batch
    // arrivals compared against the full untrimmed buffer (ADVICE r11).
    // The vector stream runs the same ring over six identical vectors.
    import org.apache.spark.sql.{DataFrame, Encoder}
    val text = (0 until 40).map(i => s"tmpl$i").mkString(" ")
    val e: Seq[Float] = (0 until 8).map(i => (i + 1).toFloat / 10f)
    val model = graft.index.LshForest.build(Seq(0L -> e).toDF("vec_id", "embedding"))
    val cuts = Map.empty[(Int, Int), (Int, Array[Double])]
    val t0 = 30L * 86400000L
    def rows[P](p: P) = (0 until 6).map(i =>
      (new Timestamp(t0 + i * 1000L), i.toLong, p))

    def run[T: Encoder](framing: Seq[Seq[T]], sink: String)(
        query: DataFrame => DataFrame): Set[(Long, Long)] = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[T]
      StreamOps.withRocksDbStateStore(spark) {
        val q = query(mem.toDF())
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try framing.foreach { c => mem.addData(c); q.processAllAvailable() }
        finally q.stop()
      }
      spark.table(sink).distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def sig(in: DataFrame) = StreamOps.nearDupPairsStream(
      in.toDF("ts", "doc_id", "text"), lateness = "7 days", occupancyCap = 2)
    def emb(in: DataFrame) = StreamOps.embNearDupStream(
      in.toDF("ts", "vec_id", "embedding"), model, cuts,
      lateness = "7 days", occupancyCap = 2)

    // the ring semantics themselves: each arrival pairs with exactly the
    // 2 newest priors
    val expect = (0 until 6).flatMap(b =>
      Seq(b - 2, b - 1).filter(_ >= 0).map(a => (a.toLong, b.toLong))).toSet
    val texts = rows(text)
    val vecs = rows(e)
    Seq(
      ("sig", run(Seq(texts), "sig_framing_one")(sig),
        run(texts.grouped(2).toSeq, "sig_framing_three")(sig)),
      ("emb", run(Seq(vecs), "emb_framing_one")(emb),
        run(vecs.grouped(2).toSeq, "emb_framing_three")(emb))
    ).foreach { case (op, one, three) =>
      assert(one == three, s"$op: framing-dependent output: $one vs $three")
      assert(one == expect, s"$op: ring compare set wrong: $one vs $expect")
    }
  }

  test("ring-cap drop counter: zero on an organic stream, nonzero when the " +
      "cap bites") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 30L * 86400000L
    def run(texts: Seq[String], sink: String): Long = {
      val acc = spark.sparkContext.longAccumulator(s"drops_$sink")
      val mem = MemoryStream[(Timestamp, Long, String)]
      StreamOps.withRocksDbStateStore(spark) {
        val q = StreamOps
          .nearDupPairsStream(mem.toDF().toDF("ts", "doc_id", "text"),
            lateness = "7 days", occupancyCap = 2, dropCounter = Some(acc))
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try texts.zipWithIndex.grouped(2).foreach { c =>
          mem.addData(c.map { case (txt, i) =>
            (new Timestamp(t0 + i * 1000L), i.toLong, txt)
          })
          q.processAllAvailable()
        } finally q.stop()
      }
      acc.value
    }
    val organic = run((0 until 6).map(i =>
      (0 until 40).map(w => s"doc${i}w$w").mkString(" ")), "drops_organic")
    assert(organic == 0L, s"organic stream must not drop priors: $organic")
    val hot = (0 until 40).map(i => s"tmpl$i").mkString(" ")
    val boiler = run(Seq.fill(6)(hot), "drops_boiler")
    assert(boiler > 0L, "cap-2 ring over 6 identical texts must report drops")
  }

  test("near-dup streams under withRocksDbStateStore: one micro-batch per " +
      "fed batch, changelog commits, pairs equal the watermark-only-batch run") {
    import org.apache.spark.sql.{DataFrame, Encoder, Row}
    import org.apache.spark.sql.streaming.StreamingQueryProgress
    // One run of `query` over `batches` under the wrapper, with a
    // checkpoint dir; `noDataBatches` re-enables the watermark-only batch
    // inside it (the wrapper restores the conf after).
    def wrappedRun[T: Encoder](batches: Seq[Seq[T]], sink: String,
        noDataBatches: Boolean)(query: DataFrame => DataFrame)
        : (Set[Row], Array[StreamingQueryProgress], String) = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[T]
      val ckpt = tmpCkpt(sink)
      val progress = StreamOps.withRocksDbStateStore(spark) {
        if (noDataBatches)
          spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
        val q = query(mem.toDF()).writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
        finally q.stop()
        q.recentProgress
      }
      (spark.table(sink).distinct().collect().toSet, progress, ckpt)
    }

    // Docs one second apart under a 5-second lateness: a twin pairs with a
    // prior inside the horizon (2→12, 3→13, 4→14) and not with one that
    // expired a batch earlier (0→10, 1→11), so timers fire mid-stream.
    def twinFeed[T](doc: Int => T, twin: Int => T)
        : Seq[Seq[(Timestamp, Long, T)]] = {
      val t0 = 30L * 86400000L
      def at(s: Int, id: Long, v: T) = (new Timestamp(t0 + s * 1000L), id, v)
      Seq(
        Seq(at(0, 0L, doc(0)), at(1, 1L, doc(1)), at(2, 2L, doc(2))),
        Seq(at(10, 3L, doc(3)), at(11, 12L, twin(2))),
        Seq(at(12, 10L, twin(0)), at(13, 13L, twin(3))),
        Seq(at(30, 4L, doc(4))),
        Seq(at(31, 14L, twin(4)), at(32, 11L, twin(1))))
    }

    def text(i: Int) = (0 until 40).map(w => s"w${i}x$w").mkString(" ")
    val dim = 8
    def vec(seed: Int): Seq[Float] =
      (0 until dim).map(i => (((seed * 31 + i) * 2654435761L % 2001) - 1000)
        .toFloat / 1000f)
    val model = graft.index.LshForest.build(
      Seq(0L -> vec(1), 1L -> vec(2), 2L -> vec(3)).toDF("vec_id", "embedding"))
    // 3 sign bits split each tree's one leaf, so unlike vectors land in
    // different buckets and an untouched bucket's timer can fire
    val cuts = model.trees.indices
      .map(t => (t, 0) -> (3, Array.fill(3)(0.0))).toMap
    val textFeed = twinFeed[String](text, i => text(i) + " zzztwin")
    val vecFeed = twinFeed[Seq[Float]](vec, vec)
    def sig(in: DataFrame) = StreamOps.nearDupPairsStream(
      in.toDF("ts", "doc_id", "text"), lateness = "5 seconds")
    def emb(in: DataFrame) = StreamOps.embNearDupStream(
      in.toDF("ts", "vec_id", "embedding"), model, cuts,
      lateness = "5 seconds")
    val runs = Seq(
      ("sig", wrappedRun(textFeed, "tws_sig_one", false)(sig),
        wrappedRun(textFeed, "tws_sig_nodata", true)(sig)),
      ("emb", wrappedRun(vecFeed, "tws_emb_one", false)(emb),
        wrappedRun(vecFeed, "tws_emb_nodata", true)(emb)))
    runs.foreach { case (op, (pairs, progress, ckpt), (pairsND, progressND, _)) =>
      val got = pairs.map(r => (r.getLong(0), r.getLong(1)))
      assert(got == Set((2L, 12L), (3L, 13L), (4L, 14L)), s"$op pairs: $got")
      assert(pairs == pairsND,
        s"$op: dropping the watermark-only batch changed the output")
      val batches = progress.map(_.batchId).distinct
      assert(batches.length == textFeed.length,
        s"$op: ${batches.length} micro-batches, ${textFeed.length} fed")
      assert(progressND.map(_.batchId).distinct.length > textFeed.length,
        s"$op: the reference run made no watermark-only batch")
      val expired = progress.flatMap(_.stateOperators)
        .flatMap(o => Option(o.customMetrics.get("numExpiredTimers")))
        .map(_.longValue).sum
      assert(expired > 0, s"$op: no timer fired")
      val changelogs = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        .filter(_.toString.endsWith(".changelog")).count()
      assert(changelogs > 0, s"$op: no .changelog file under $ckpt/state")
    }
  }

  test("withRocksDbStateStore restores all three confs after a throwing " +
      "body, and passes through without writing when they all hold") {
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    def current = confs.map { case (k, _) => spark.conf.getOption(k) }
    val before = current
    try {
      // one conf set to another value, the others unset or default
      spark.conf.set(confs(2)._1, "true")
      val outer = current
      val e = intercept[IllegalStateException] {
        StreamOps.withRocksDbStateStore(spark) {
          assert(current == confs.map(c => Some(c._2)))
          throw new IllegalStateException("body broke")
        }
      }
      assert(e.getMessage == "body broke")
      assert(current == outer, s"confs not restored: $current vs $outer")

      // all three hold: the body's own conf write survives, so the wrap
      // restored nothing
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      StreamOps.withRocksDbStateStore(spark) {
        spark.conf.set(confs(1)._1, "false")
      }
      assert(spark.conf.get(confs(1)._1) == "false",
        "a pass-through wrap wrote the session conf")
    } finally confs.zip(before).foreach {
      case ((k, _), Some(v)) => spark.conf.set(k, v)
      case ((k, _), None) => spark.conf.unset(k)
    }
  }

  // -----------------------------------------------------------------------
  // Checkpoint-restart recovery for the flatMapGroupsWithState operators
  // (round 12 — completing the recovery story the transformWithState tests
  // above started): the HDFS-backed state store must restore buffered
  // rows, counters, shadow-pruned history AND timeout bookkeeping so a
  // restarted query emits exactly what the uninterrupted one does.
  // -----------------------------------------------------------------------

  test("asofStream: checkpoint restart restores buffered lefts/rights and " +
      "shadow pruning; output equals the uninterrupted run") {
    val t0 = 30L * 86400000L
    def r(ms: Long, id: Long) = (1L, new Timestamp(t0 + ms), (t0 + ms) * 1000L, 0, id)
    def l(ms: Long, id: Long) = (1L, new Timestamp(t0 + ms), (t0 + ms) * 1000L, 1, id)
    val h = 3600000L // 1 hour
    // chunks 1-2 buffer rights 100/101 and left 1 (nothing ripe under the
    // 1h lateness); RESTART; chunk 3 buffers left 2; chunk 4's far-future
    // right advances the watermark so both lefts ripen against RESTORED
    // rights (left 1 -> right 100, left 2 -> right 101) and the past
    // rights collapse to the single latest (101); chunk 5's left must
    // still match that shadow-pruned survivor after another advance.
    val chunks: Seq[Seq[(Long, Timestamp, Long, Int, Long)]] = Seq(
      Seq(r(0L, 100L), l(10000L, 1L)),
      Seq(r(20000L, 101L)),
      Seq(l(30000L, 2L)),
      Seq(r(2 * h, 999L)),
      Seq(l(90 * 60000L, 3L)),
      Seq(r(4 * h, 998L)))

    def run(stopAfter: Option[Int], tag: String)
        : Set[(Long, Long, Option[Long], Option[Long])] = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ckpt = SparkTestBase.tmpDir(s"graft_ckpt_asof_$tag")
      val outDir = SparkTestBase.tmpDir(s"graft_ckpt_asof_${tag}_out")
      val mem = MemoryStream[(Long, Timestamp, Long, Int, Long)]
      def start() = StreamOps
        .asofStream(mem.toDF().toDF("key", "ts", "us", "side", "id"),
          lateness = "1 hour")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      val boundary = stopAfter.getOrElse(chunks.length)
      try chunks.take(boundary).foreach { c =>
        mem.addData(c); q1.processAllAvailable()
      } finally q1.stop()
      if (boundary < chunks.length) {
        val q2 = start()
        try chunks.drop(boundary).foreach { c =>
          mem.addData(c); q2.processAllAvailable()
        } finally q2.stop()
      }
      spark.read.parquet(outDir).collect()
        .map(row => (row.getLong(2),
          row.getLong(1) / 1000L - t0,
          Option(row.get(3)).map(_.asInstanceOf[Long]),
          Option(row.get(4)).map(_.asInstanceOf[Long] / 1000L - t0))).toSet
    }

    val uninterrupted = run(None, "full")
    val restarted = run(Some(2), "half")
    assert(uninterrupted == Set(
      (1L, 10000L, Some(100L), Some(0L)),
      (2L, 30000L, Some(101L), Some(20000L)),
      (3L, 90L * 60000L, Some(101L), Some(20000L))),
      s"unexpected uninterrupted matches: $uninterrupted")
    assert(restarted == uninterrupted,
      s"restart changed the as-of output: $restarted vs $uninterrupted")
  }

  test("capPerKey: checkpoint restart restores per-key budgets and their " +
      "expiry; output equals the uninterrupted run") {
    val t0 = 30L * 86400000L
    val h = 3600000L
    // cap 2: key a consumes its full budget PRE-restart, so post-restart
    // a3 must drop on the RESTORED counter (a fresh one would pass it);
    // key b has 1 left and passes b2; the watermark jump then expires
    // both counters and a4 rides a fresh budget.
    val chunks: Seq[Seq[(String, Timestamp, String)]] = Seq(
      Seq(("a", new Timestamp(t0), "a1"), ("b", new Timestamp(t0 + 1000L), "b1")),
      Seq(("a", new Timestamp(t0 + 2000L), "a2")),
      Seq(("a", new Timestamp(t0 + 3000L), "a3"),
        ("b", new Timestamp(t0 + 4000L), "b2")),
      Seq(("c", new Timestamp(t0 + 3 * h), "c1")),
      Seq(("a", new Timestamp(t0 + 3 * h + 1000L), "a4")))

    def run(stopAfter: Option[Int], tag: String): Set[String] = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ckpt = SparkTestBase.tmpDir(s"graft_ckpt_cap_$tag")
      val outDir = SparkTestBase.tmpDir(s"graft_ckpt_cap_${tag}_out")
      val mem = MemoryStream[(String, Timestamp, String)]
      def start() = StreamOps
        .capPerKey(mem.toDF().toDF("key", "ts", "id"), cap = 2,
          lateness = "1 hour")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      val boundary = stopAfter.getOrElse(chunks.length)
      try chunks.take(boundary).foreach { c =>
        mem.addData(c); q1.processAllAvailable()
      } finally q1.stop()
      if (boundary < chunks.length) {
        val q2 = start()
        try chunks.drop(boundary).foreach { c =>
          mem.addData(c); q2.processAllAvailable()
        } finally q2.stop()
      }
      spark.read.parquet(outDir).collect().map(_.getString(2)).toSet
    }

    val uninterrupted = run(None, "full")
    val restarted = run(Some(2), "half")
    assert(uninterrupted == Set("a1", "b1", "a2", "b2", "c1", "a4"),
      s"unexpected survivors: $uninterrupted")
    assert(restarted == uninterrupted,
      s"restart changed the cap survivors: $restarted vs $uninterrupted")
  }

  test("topKStream: checkpoint restart restores the bounded leaderboard " +
      "buffers (Update mode via foreachBatch)") {
    // k=3; chunk 3 (post-restart) must EVICT a pre-restart candidate —
    // only possible if the restored buffer still holds all three.
    // foreachBatch appends (batch_id, rows); the final leaderboard per
    // query is its rows at that query's LAST update batch, and distinct()
    // absorbs a replayed post-kill batch (same batch_id appended twice).
    val chunks: Seq[Seq[(Long, Long, Double)]] = Seq(
      Seq((1L, 101L, 5.0), (1L, 102L, 3.0), (2L, 110L, 1.0)),
      Seq((1L, 103L, 4.0)),
      Seq((1L, 104L, 2.0)),
      Seq((2L, 111L, 0.5)))

    def run(stopAfter: Option[Int], tag: String)
        : Map[Long, Seq[(Long, Double, Long)]] = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ckpt = SparkTestBase.tmpDir(s"graft_ckpt_topk_$tag")
      val outDir = SparkTestBase.tmpDir(s"graft_ckpt_topk_${tag}_out")
      val mem = MemoryStream[(Long, Long, Double)]
      def start() = StreamOps
        .topKStream(mem.toDF().toDF("query_id", "vec_id", "dist"), k = 3)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          df.withColumn("batch_id", lit(bid))
            .write.mode("append").parquet(outDir)
        }.start()
      val q1 = start()
      val boundary = stopAfter.getOrElse(chunks.length)
      try chunks.take(boundary).foreach { c =>
        mem.addData(c); q1.processAllAvailable()
      } finally q1.stop()
      if (boundary < chunks.length) {
        val q2 = start()
        try chunks.drop(boundary).foreach { c =>
          mem.addData(c); q2.processAllAvailable()
        } finally q2.stop()
      }
      val rows = spark.read.parquet(outDir).distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getLong(4))) // (qid, vid, dist, rk, batch_id)
      rows.groupBy(_._1).map { case (qid, rs) =>
        val last = rs.map(_._5).max
        qid -> rs.filter(_._5 == last).sortBy(_._4)
          .map(t => (t._2, t._3, t._4)).toSeq
      }
    }

    val expected = Map(
      1L -> Seq((104L, 2.0, 1L), (102L, 3.0, 2L), (103L, 4.0, 3L)),
      2L -> Seq((111L, 0.5, 1L), (110L, 1.0, 2L)))
    val uninterrupted = run(None, "full")
    val restarted = run(Some(2), "half")
    assert(uninterrupted == expected,
      s"unexpected final leaderboards: $uninterrupted")
    assert(restarted == uninterrupted,
      s"restart changed the leaderboards: $restarted vs $uninterrupted")
  }

  test("crawl front-end stream: checkpoint restart keeps url-dedup state " +
      "and both stores; serving equals the uninterrupted run") {
    // 6 pages: a boilerplate chunk shared by pages 0-2 (df 3, hot) plus
    // unique prose; pages 3-5 unique prose only. Refetches of pages 0 and
    // 3 arrive under noisy url variants in LATER chunks — page 0's
    // refetch lands AFTER the restart boundary while its original landed
    // before it, so dropping it proves the dedup state restored.
    val boiler = Seq.fill(6)("shared").mkString(" ") // 40 chars, kept
    def uniq(i: Long) = s"unique prose for page $i padded to length"
    def page(i: Long) =
      if (i <= 2) s"<p>$boiler</p><p>${uniq(i)}</p>" else s"<p>${uniq(i)}</p>"
    val day = 86400000L
    def row(id: Long, noisy: Boolean): (Timestamp, Long, String, String) = (
      new Timestamp(30L * day + id * 1000L),
      if (noisy) id + 100 else id,
      if (noisy) s"HTTPS://WWW.Example.com:443//doc//$id/?utm_source=x#f"
      else s"https://www.example.com/doc/$id",
      page(id))
    // refetches live in their own later chunk so every drop is CROSS-batch
    // (intra-batch survivor choice between two doc_ids would be racy);
    // with the restart boundary after chunk 2, both originals land before
    // the stop and both refetches after it — dropping them proves the
    // url-dedup state restored from the checkpoint.
    val chunks: Seq[Seq[(Timestamp, Long, String, String)]] = Seq(
      Seq(row(0, noisy = false), row(1, noisy = false), row(2, noisy = false)),
      Seq(row(3, noisy = false)),
      Seq(row(0, noisy = true), row(3, noisy = true)),
      Seq(row(4, noisy = false), row(5, noisy = false)))

    def run(stopAfter: Option[Int], tag: String)
        : Seq[(Long, Long, Long, Long, String, Long)] = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ckpt = tmpCkpt(tag)
      val docStore = tmpCkpt(s"${tag}_docs")
      val dfStore = tmpCkpt(s"${tag}_df")
      val mem = MemoryStream[(Timestamp, Long, String, String)]
      def start() = StreamOps.maintainCrawl(
        StreamOps.crawlIngestStream(
          mem.toDF().toDF("ts", "doc_id", "url", "page"), lateness = "7 days"),
        docStore, dfStore, ckpt)
      val q1 = start()
      val boundary = stopAfter.getOrElse(chunks.length)
      try chunks.take(boundary).foreach { c =>
        mem.addData(c); q1.processAllAvailable()
      } finally q1.stop()
      if (boundary < chunks.length) {
        val q2 = start() // SAME checkpoint + stores — recovery path
        try chunks.drop(boundary).foreach { c =>
          mem.addData(c); q2.processAllAvailable()
        } finally q2.stop()
      }
      val base = StreamOps.currentCrawlDocs(spark, docStore).get
      val hot = StreamOps.currentChunkDf(spark, dfStore).get
        .filter(col("n") >= 3).select("chunk")
      graft.catalog.HtmlQueries.assembleClean(base, hot, minChunks = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getLong(5))).toSeq
    }

    val uninterrupted = run(None, "crawl_full")
    val restarted = run(Some(2), "crawl_half")
    // exactly the 6 originals survive (both refetches dropped by url
    // state); pages 0-2 lose the hot boilerplate chunk, keep their prose
    assert(uninterrupted.map(_._1) == (0L to 5L).toSeq,
      s"unexpected surviving docs: ${uninterrupted.map(_._1)}")
    for ((docId, nBlocks, nKept, nAfter, _, keep) <- uninterrupted) {
      val expBlocks = if (docId <= 2) 2L else 1L
      assert(nBlocks == expBlocks && nKept == expBlocks && nAfter == 1L &&
        keep == 1L, s"doc $docId: ($nBlocks, $nKept, $nAfter, $keep)")
    }
    assert(restarted == uninterrupted,
      s"restart changed the served cascade:\n$restarted\nvs\n$uninterrupted")
  }

  test("maintainCrawl auto-compaction: every Nth epoch folds the stores " +
      "in-line, serving equals the compaction-free run") {
    val boiler = Seq.fill(6)("shared").mkString(" ")
    def page(i: Long) =
      s"<p>$boiler</p><p>unique prose for page $i padded to length</p>"
    def chunkOf(ids: Seq[Long]): Seq[(Timestamp, Long, String, String)] =
      ids.map(i => (new Timestamp(30L * 86400000L + i * 1000L), i,
        s"https://www.example.com/doc/$i", page(i)))
    // 6 micro-batches of 2 pages, below EpochStore.MaxLiveEpochs, so the
    // writer never compacts; the compacting run folds the stores between
    // micro-batches, after epochs 2 and 4
    val chunks = (0 until 6).map(b => chunkOf(Seq(2L * b, 2L * b + 1)))
    def run(compact: Boolean, tag: String): (Vector[Seq[Any]], Int) = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val (docStore, dfStore, ckpt) = (tmpCkpt(s"${tag}_docs"),
        tmpCkpt(s"${tag}_df"), tmpCkpt(s"${tag}_ckpt"))
      val mem = MemoryStream[(Timestamp, Long, String, String)]
      val q = StreamOps.maintainCrawl(
        StreamOps.crawlIngestStream(
          mem.toDF().toDF("ts", "doc_id", "url", "page"), lateness = "7 days"),
        docStore, dfStore, ckpt)
      try chunks.zipWithIndex.foreach { case (c, i) =>
        mem.addData(c); q.processAllAvailable()
        if (compact && i > 0 && i % 2 == 0)
          StreamOps.compactCrawlStores(spark, docStore, dfStore)
      } finally q.stop()
      val served = graft.catalog.HtmlQueries.serveCrawl(
          spark, docStore, dfStore, minDf = 3, minChunks = 1)
        .collect().map(_.toSeq).toVector
      val nDirs = Option(new java.io.File(docStore).listFiles())
        .getOrElse(Array.empty)
        .count(d => d.isDirectory && d.getName.startsWith("v="))
      (served, nDirs)
    }
    val (plain, plainDirs) = run(compact = false, "autocompact_off")
    val (compacted, compactedDirs) = run(compact = true, "autocompact_on")
    assert(plain.map(_.head) == (0L to 11L).toVector)
    assert(compacted == plain,
      s"auto-compaction changed serving:\n$compacted\nvs\n$plain")
    // 6 epochs uncompacted; compacting every 2nd epoch the on-disk dir count is
    // bounded (compact dirs + post-compaction epochs + one retention cycle)
    assert(plainDirs == 6, s"expected 6 raw epochs, got $plainDirs")
    assert(compactedDirs < 6, s"auto-compaction never fired: $compactedDirs dirs")
  }

  test("maintainCrawlDedup auto-compaction: band + doc stores fold every " +
      "Nth epoch, labels equal the compaction-free run, ancient replay " +
      "no-ops after band-dir GC") {
    // 6 near-dup PAIRS: pair p's two members share 100 words of prose and
    // differ in a short tail (J ≈ 0.9 ≥ 0.8). Evens stream in batches
    // 0-2, odds in batches 3-5, so every verified pair is CROSS-batch —
    // each odd member's bands must join the maintained band table built
    // epochs earlier, THROUGH the compactions (the compacting run folds
    // the stores after epochs 2 and 4, i.e. between the evens and while
    // odds arrive; 6 epochs stay below EpochStore.MaxLiveEpochs, so the
    // writer itself never compacts).
    def page(i: Long): String = {
      val shared = (0 until 100).map(w => s"prose${i / 2}w$w").mkString(" ")
      val tail =
        if (i % 2 == 0) "even tail marker words here"
        else "odd tail ending other words"
      s"<p>$shared $tail</p>"
    }
    def chunkOf(ids: Seq[Long]): Seq[(Timestamp, Long, String, String)] =
      ids.map(i => (new Timestamp(30L * 86400000L + i * 1000L), i,
        s"https://www.example.com/doc/$i", page(i)))
    val feed = (0 until 3).map(b => chunkOf(Seq(4L * b, 4L * b + 2))) ++
      (0 until 3).map(b => chunkOf(Seq(4L * b + 1, 4L * b + 3)))

    def run(compact: Boolean, tag: String)
        : (Vector[(Long, Long)], Int, (String, String, String)) = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val (docStore, bandStore, labelStore, ckpt) = (tmpCkpt(s"${tag}_docs"),
        tmpCkpt(s"${tag}_bands"), tmpCkpt(s"${tag}_labels"),
        tmpCkpt(s"${tag}_ckpt"))
      val mem = MemoryStream[(Timestamp, Long, String, String)]
      val q = StreamOps.maintainCrawlDedup(
        StreamOps.crawlIngestStream(
          mem.toDF().toDF("ts", "doc_id", "url", "page"), lateness = "7 days"),
        docStore, bandStore, labelStore, ckpt,
        graft.catalog.DedupQueries.bandsOf,
        graft.catalog.DedupQueries.minhashPairsDelta)
      try feed.zipWithIndex.foreach { case (c, i) =>
        mem.addData(c); q.processAllAvailable()
        if (compact && i > 0 && i % 2 == 0)
          StreamOps.compactCrawlDedupStores(spark, docStore, bandStore)
      } finally q.stop()
      val labels = StreamOps.currentComponents(spark, labelStore).get
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toVector
      val nBandDirs = Option(new java.io.File(bandStore).listFiles())
        .getOrElse(Array.empty)
        .count(d => d.isDirectory && d.getName.startsWith("v="))
      (labels, nBandDirs, (docStore, bandStore, labelStore))
    }

    val (plain, plainBandDirs, _) = run(compact = false, "crawldedup_plain")
    val (compacted, compactedBandDirs, (docStore, bandStore, labelStore)) =
      run(compact = true, "crawldedup_compact")
    // every pair found: 12 nodes in 6 two-member components
    assert(plain.map(_._1) == (0L to 11L).toVector,
      s"unexpected labeled nodes: ${plain.map(_._1)}")
    assert(plain.groupBy(_._2).values.map(_.map(_._1).toSet).toSet ==
      (0 until 6).map(p => Set(2L * p, 2L * p + 1)).toSet,
      s"wrong clusters: $plain")
    assert(compacted == plain,
      s"compaction changed labels:\n$compacted\nvs\n$plain")
    assert(plainBandDirs == 6, s"expected 6 raw band epochs, got $plainBandDirs")
    assert(compactedBandDirs < 6,
      s"band-store compaction never fired: $compactedBandDirs dirs")
    // append one more epoch by hand (the streaming run's foreachBatch ids
    // may exceed the data-chunk count — stateful sources emit extra
    // batches — so use a safely-later id), then compact AGAIN: this pass
    // GCs the earlier compactions' sources and must carry their manifest
    // ids forward transitively
    StreamOps.applyCrawlDedupBatch(
      Seq((99L, "https://example.com/doc/99", 1L, Seq(page(99L))))
        .toDF("doc_id", "canon_url", "n_blocks", "kept"),
      1000L, docStore, bandStore, labelStore,
      graft.catalog.DedupQueries.bandsOf,
      graft.catalog.DedupQueries.minhashPairsDelta)
    assert(StreamOps.compactCrawlDedupStores(spark, docStore, bandStore))
    // a replayed ANCIENT batch (id 1 — its band dir long GC'd) must no-op
    // on every store: these rows would add doc 999 and pair it with
    // nothing, but even the doc-store write must not happen
    val labelsBefore = StreamOps.currentComponents(spark, labelStore).get
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toVector
    StreamOps.applyCrawlDedupBatch(
      Seq((999L, "https://example.com/doc/999", 1L, Seq(page(0L))))
        .toDF("doc_id", "canon_url", "n_blocks", "kept"),
      1L, docStore, bandStore, labelStore,
      graft.catalog.DedupQueries.bandsOf,
      graft.catalog.DedupQueries.minhashPairsDelta)
    val labelsAfter = StreamOps.currentComponents(spark, labelStore).get
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toVector
    assert(labelsAfter == labelsBefore,
      "ancient epoch id re-applied after band-dir GC")
    assert(StreamOps.currentCrawlDocs(spark, docStore).get
      .filter(col("doc_id") === 999L).isEmpty,
      "ancient epoch's rows leaked into the doc store")
  }

  test("crawl store compaction: serving unchanged, single-epoch no-op, " +
      "double compaction carries manifests, replayed ancient batch no-ops") {
    val docStore = tmpCkpt("compactcrawl_docs")
    val dfStore = tmpCkpt("compactcrawl_df")
    // batch rows in crawlIngestStream's output shape; every doc carries a
    // shared boilerplate chunk (goes hot once df >= 3) plus a unique chunk
    def batchDf(ids: Seq[Long]) = ids.map(i =>
        (i, s"https://example.com/doc/$i", 2L,
          Seq(s"unique chunk for $i", "shared boilerplate chunk")))
      .toDF("doc_id", "canon_url", "n_blocks", "kept")
    (0L to 3L).foreach(b => StreamOps.applyCrawlBatch(
      batchDf(Seq(2 * b, 2 * b + 1)), b, docStore, dfStore))
    def serve(): Seq[(Long, Long, Long)] =
      graft.catalog.HtmlQueries.serveCrawl(
          spark, docStore, dfStore, minDf = 3, minChunks = 1)
        .select("doc_id", "n_after", "keep")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val before = serve()
    assert(before.map(_._1) == (0L to 7L).toSeq &&
      before.forall(r => r._2 == 1L && r._3 == 1L),
      s"unexpected pre-compaction serving: $before")
    // compaction must not change serving, and a single-live-epoch store
    // must refuse to re-compact
    assert(StreamOps.compactCrawlStores(spark, docStore, dfStore))
    assert(serve() == before, "compaction changed serving")
    assert(!StreamOps.compactCrawlStores(spark, docStore, dfStore),
      "single-epoch stores must not re-compact")
    // append past the compaction, then compact AGAIN: the second pass GCs
    // the first's sources, and its manifest must carry their ids forward
    StreamOps.applyCrawlBatch(batchDf(Seq(8L, 9L)), 4L, docStore, dfStore)
    val grown = serve()
    assert(grown.map(_._1) == (0L to 9L).toSeq, s"append lost: $grown")
    assert(StreamOps.compactCrawlStores(spark, docStore, dfStore))
    assert(serve() == grown, "double compaction changed serving")
    // the original numeric dirs are GC'd now; a replayed ANCIENT batch id
    // must still no-op through the transitive manifest — these rows would
    // add doc 99 if wrongly applied
    StreamOps.applyCrawlBatch(batchDf(Seq(99L)), 1L, docStore, dfStore)
    assert(serve() == grown, "ancient epoch id re-applied after compaction")
  }
}
