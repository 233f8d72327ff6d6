package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.BinaryFrames
import graft.streaming.EventsStream
import graft.streaming.EventsStream.Event

class StreamingSpec extends AnyFunSuite {
  import TestSpark.{sfDir, spark}

  test("streaming windowed counts match the batch twin") {
    import spark.implicits._
    val batchInput = EventsStream.eventsAsTimestamps(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val batchResult = EventsStream.windowedCounts(batchInput)
      .orderBy("win_start", "event_type").collect()

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    stream.addData(batchInput.as[Event].collect().toIndexedSeq)
    val q = EventsStream.windowedCounts(stream.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamResult = spark.table("win_out")
      .orderBy("win_start", "event_type").collect()

    assert(streamResult.length === batchResult.length)
    assert(streamResult.sameElements(batchResult))
  }

  test("streaming sliding windows match the batch twin") {
    import spark.implicits._
    val batchInput = EventsStream.eventsAsTimestamps(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val batchResult = EventsStream.slidingCounts(batchInput)
      .orderBy("win_start", "event_type").collect()

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    stream.addData(batchInput.as[Event].collect().toIndexedSeq)
    val q = EventsStream.slidingCounts(stream.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("slide_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamResult = spark.table("slide_out")
      .orderBy("win_start", "event_type").collect()

    assert(streamResult.length === batchResult.length)
    assert(streamResult.sameElements(batchResult))
    // and the oracle-checked ns-integer batch twin agrees row for row
    // (window starts as epoch seconds, counts, cents)
    val oracleTwin = graft.ops.EventOps.eventsSliding(spark, sfDir)
      .collect()
    val asEpochs = EventsStream.slidingCounts(batchInput)
      .select((org.apache.spark.sql.functions.unix_timestamp(
        org.apache.spark.sql.functions.col("win_start"))).as("win_start_epoch"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("n"),
        org.apache.spark.sql.functions.col("sum_cents"))
      .orderBy("win_start_epoch", "event_type").collect()
    assert(asEpochs.length === oracleTwin.length)
    assert(asEpochs.sameElements(oracleTwin))
  }

  test("stream-static anomaly flags match the batch twin and add no " +
      "join state") {
    import spark.implicits._
    val batchInput = EventsStream.eventsAsTimestamps(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // batch-computed per-type baseline over hourly counts — the
    // static reference table a monitor refreshes offline
    val baseline = batchInput
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(avg("n").as("mean_n"), stddev_pop("n").as("std_n"))
    val batchResult = EventsStream.anomalyFlags(batchInput, baseline)
      .orderBy("win_start", "event_type").collect()
    assert(batchResult.nonEmpty)

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    stream.addData(batchInput.as[Event].collect().toIndexedSeq)
    val q = EventsStream.anomalyFlags(stream.toDF(), baseline)
      .writeStream.outputMode("complete")
      .format("memory").queryName("anom_out").start()
    try {
      q.processAllAvailable()
      val streamResult = spark.table("anom_out")
        .orderBy("win_start", "event_type").collect()
      assert(streamResult.length === batchResult.length)
      assert(streamResult.sameElements(batchResult))
      // the static join must contribute no streaming state operator:
      // only the windowed aggregation holds state
      val ops = q.lastProgress.stateOperators
      assert(ops.length === 1,
        s"expected only the agg state operator, got ${ops.length}")
    } finally q.stop()

    // a type ABSENT from the baseline must flag (left join), not
    // vanish; a zero-variance baseline flags any deviation directly
    // a null std with a PRESENT mean (stddev_samp over a one-window
    // history) must flag like a missing baseline — not evaluate the
    // whole flag to NULL and silently neither flag nor clear
    val partial = baseline
      .filter(!col("event_type").isin("error", "view", "click"))
      .unionByName(spark.sql(
        "SELECT 'view' AS event_type, 1.0D AS mean_n, 0.0D AS std_n"))
      .unionByName(spark.sql(
        "SELECT 'click' AS event_type, 1.0D AS mean_n, " +
          "CAST(NULL AS DOUBLE) AS std_n"))
    val specialAll = EventsStream.anomalyFlags(batchInput, partial)
    assert(specialAll.filter(col("anomalous").isNull).count() === 0,
      "anomalous must always be a real boolean, never null")
    val nullStd = specialAll.filter(col("event_type") === "click")
    assert(nullStd.count() > 0)
    assert(nullStd.filter(!col("anomalous") || col("z").isNotNull)
      .count() === 0, "null-std baseline must flag with null z")
    val special = specialAll
      .filter(col("event_type").isin("error", "view"))
    val err = special.filter(col("event_type") === "error")
    assert(err.count() > 0, "baseline-less type must not vanish")
    assert(err.filter(!col("anomalous") || col("z").isNotNull)
      .count() === 0, "baseline-less windows must flag with null z")
    val vw = special.filter(col("event_type") === "view")
      .filter(col("n") =!= 1.0)
    assert(vw.count() > 0 &&
      vw.filter(!col("anomalous")).count() === 0,
      "zero-variance baseline must flag any deviation")
  }

  test("stream-stream signup enrichment matches the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchInput = EventsStream.eventsAsTimestamps(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val batchResult = EventsStream.enrichedWithSignup(batchInput)
      .select("event_id", "signup_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSet
    assert(batchResult.nonEmpty, "no signup matches in the corpus")
    val stream = MemoryStream[Event]
    stream.addData(batchInput.as[Event].collect().toIndexedSeq)
    val q = EventsStream.enrichedWithSignup(stream.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamResult = spark.table("enrich_out")
      .select("event_id", "signup_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSet
    assert(streamResult === batchResult)
  }

  test("streaming dedup drops redelivered events within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // minute offsets start well past the epoch: the initial watermark
    // is 1970-01-01, and a row AT the watermark counts as late
    def ev(id: Long, minute: Long) =
      Event(id, new Timestamp((600 + minute) * 60000L), 1L, "click", 1.0)
    val stream = MemoryStream[Event]
    // ids 1..5; 1 redelivered verbatim, 3 redelivered with a
    // RE-STAMPED timestamp (the at-least-once producer case) — state
    // keys on id alone, so both must dedup
    stream.addData(Seq(ev(1, 0), ev(2, 1), ev(1, 0), ev(3, 2),
      ev(3, 7), ev(4, 3), ev(5, 4)))
    val q = EventsStream.dedupedEvents(stream.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("dedup_out").select("event_id")
      .as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("streaming dedup state stays bounded by the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, minute: Long) =
      Event(id, new Timestamp((600 + minute) * 60000L), 1L, "click", 1.0)
    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    val stream = MemoryStream[Event]
    // 20 ids, each redelivered 3x — at-least-once pressure. The 100 TB
    // risk isn't the output (the earlier test covers that); it's state
    // that grows with DELIVERIES or with stream length instead of with
    // distinct keys inside the watermark horizon.
    val base = (1L to 20L).flatMap(i => Seq(ev(i, i), ev(i, i), ev(i, i)))
    stream.addData(base)
    val q = EventsStream.dedupedEvents(stream.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_state_out").start()
    try {
      q.processAllAvailable()
      // one state row per distinct id, NOT per delivery
      assert(stateRows(q) === 20L,
        s"state holds ${stateRows(q)} rows for 20 distinct ids")
      // jump event time far past the horizon; the watermark advance
      // (plus the no-data eviction batch) must expire the old keys
      stream.addData(Seq(ev(1000, 100000L)))
      q.processAllAvailable()
      stream.addData(Seq(ev(1001, 100001L)))
      q.processAllAvailable()
      val after = stateRows(q)
      assert(after <= 2L,
        s"state not evicted past the watermark: $after rows remain")
    } finally q.stop()
  }

  test("event-time sessionizer drains under AvailableNow-style feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, user: Long, minute: Long) =
      Event(id, new Timestamp((600 + minute) * 60000L), user, "click", 1.0)
    val stream = MemoryStream[Event]
    // user 1: two sessions separated by a 60-min gap; the trailing
    // late-watermark event pushes the watermark far enough to time out
    // and close ALL earlier sessions
    stream.addData(Seq(ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 70)))
    stream.addData(Seq(ev(4, 2, 500)))
    val withWm = stream.toDS()
      .withWatermark("ts", "0 seconds")
      .as[Event]
    val q = EventsStream.sessionizeEventTime(spark, withWm)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_et_out").start()
    try q.processAllAvailable() finally q.stop()
    val closed = spark.table("sess_et_out")
      .orderBy("user_id", "start_ms")
      .collect()
    // user 1's both sessions closed (gap + watermark timeout); user 2's
    // session stays open (watermark never passed its gap)
    assert(closed.length === 2)
    assert(closed(0).getAs[Long]("n_events") === 2)
    assert(closed(1).getAs[Long]("n_events") === 1)
  }

  test("event-time sessionizer has full batch parity on the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 30L * 60 * 1000
    val ev = EventsStream.eventsAsTimestamps(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
    // independent driver-side oracle: per-user sorted fold with the
    // same 30-min gap rule
    val expected = ev.groupBy(_.user_id).flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e.ts.getTime, e.event_id))
      val sessions = Seq.newBuilder[(Long, Long, Long, Long)]
      var start = -1L; var last = -1L; var n = 0L
      sorted.foreach { e =>
        val t = e.ts.getTime
        if (start < 0) { start = t; last = t; n = 1 }
        else if (t - last <= gapMs) { last = t; n += 1 }
        else { sessions += ((u, n, start, last - start))
               start = t; last = t; n = 1 }
      }
      if (start >= 0) sessions += ((u, n, start, last - start))
      sessions.result()
    }.toSet
    // stream the whole corpus, then a far-future sentinel (user -1)
    // that pushes the watermark past every real session's close point;
    // its own still-open session is never emitted
    val maxTs = ev.map(_.ts.getTime).max
    val stream = MemoryStream[Event]
    stream.addData(ev.toIndexedSeq)
    stream.addData(Seq(Event(-1L,
      new Timestamp(maxTs + 10L * 24 * 3600 * 1000), -1L, "click", 1.0)))
    val withWm = stream.toDS().withWatermark("ts", "0 seconds").as[Event]
    val q = EventsStream.sessionizeEventTime(spark, withWm)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_parity_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sess_parity_out")
      .as[EventsStream.Session].collect()
      .map(s => (s.user_id, s.n_events, s.start_ms, s.duration_ms)).toSet
    assert(got === expected,
      s"stream closed ${got.size} sessions, batch oracle ${expected.size}")
  }

  test("transformWithState sessionizer has batch parity on the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 30L * 60 * 1000
    val ev = EventsStream.eventsAsTimestamps(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
    // driver-side oracle: the sessionizeEventTime fold plus exact
    // integer-cent revenue
    val expected = ev.groupBy(_.user_id).flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e.ts.getTime, e.event_id))
      val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
      var start = -1L; var last = -1L; var n = 0L; var rev = 0L
      sorted.foreach { e =>
        val t = e.ts.getTime
        val c = math.round(e.value * 100)
        if (start < 0) { start = t; last = t; n = 1; rev = c }
        else if (t - last <= gapMs) { last = t; n += 1; rev += c }
        else { out += ((u, n, rev, start, last - start))
               start = t; last = t; n = 1; rev = c }
      }
      if (start >= 0) out += ((u, n, rev, start, last - start))
      out.result()
    }.toSet
    val maxTs = ev.map(_.ts.getTime).max
    val stream = MemoryStream[Event]
    stream.addData(ev.toIndexedSeq)
    stream.addData(Seq(Event(-1L,
      new Timestamp(maxTs + 10L * 24 * 3600 * 1000), -1L, "click", 1.0)))
    val withWm = stream.toDS().withWatermark("ts", "0 seconds").as[Event]
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val q = EventsStream.sessionizeTws(spark, withWm)
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_parity_out").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("tws_parity_out")
        .as[EventsStream.TwsSession].collect()
        .map(s => (s.user_id, s.n_events, s.revenue_cents, s.start_ms,
          s.duration_ms)).toSet
      assert(got === expected,
        s"tws closed ${got.size} sessions, batch oracle ${expected.size}")
    } finally spark.conf.unset(key)
  }

  test("ListState/MapState journey digest has batch parity on the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 30L * 60 * 1000
    val k = 3
    val ev = EventsStream.eventsAsTimestamps(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
    // driver-side oracle: gap-fold with per-session type counts,
    // dominant type (max count, lexicographic tie-break) and top-k
    // cent sum — all order-independent digests
    val expected = ev.groupBy(_.user_id).flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e.ts.getTime, e.event_id))
      val out = Seq.newBuilder[(Long, Long, Long, String, Long, Long, Long)]
      var ses = Seq.empty[Event]
      def close(): Unit = if (ses.nonEmpty) {
        val counts = ses.groupBy(_.event_type).view.mapValues(_.size.toLong)
        val dominant = counts.toSeq.minBy { case (t, c) => (-c, t) }._1
        val cents = ses.map(e => math.round(e.value * 100))
        val start = ses.map(_.ts.getTime).min
        val last = ses.map(_.ts.getTime).max
        out += ((u, ses.size.toLong, counts.size.toLong, dominant,
          cents.sorted.takeRight(k).sum, start, last - start))
      }
      sorted.foreach { e =>
        if (ses.nonEmpty && e.ts.getTime - ses.map(_.ts.getTime).max > gapMs) {
          close(); ses = Seq.empty
        }
        ses :+= e
      }
      close()
      out.result()
    }.toSet
    val maxTs = ev.map(_.ts.getTime).max
    val stream = MemoryStream[Event]
    // two batches (split mid-corpus) so the MapState key-wise merge and
    // the ListState append/trim paths both run against PERSISTED state,
    // then a far-future sentinel to fire every eviction timer
    val (b1, b2) = ev.sortBy(_.ts.getTime).splitAt(ev.length / 2)
    stream.addData(b1.toIndexedSeq)
    stream.addData(b2.toIndexedSeq)
    stream.addData(Seq(Event(-1L,
      new Timestamp(maxTs + 10L * 24 * 3600 * 1000), -1L, "click", 1.0)))
    val withWm = stream.toDS().withWatermark("ts", "0 seconds").as[Event]
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val q = EventsStream.journeyDigest(spark, withWm, gapMs, k)
        .writeStream.outputMode("append")
        .format("memory").queryName("digest_parity_out").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("digest_parity_out")
        .as[EventsStream.TwsDigest].collect()
        .map(d => (d.user_id, d.n_events, d.n_types, d.dominant_type,
          d.topk_cents, d.start_ms, d.duration_ms)).toSet
      assert(got === expected,
        s"digest closed ${got.size} sessions, batch oracle ${expected.size}")
    } finally spark.conf.unset(key)
  }

  test("MapState session top-k evidence has batch parity on the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 30L * 60 * 1000
    val k = 3
    val ev = EventsStream.eventsAsTimestamps(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
    // driver-side oracle: gap-fold, per-session top-k by
    // (cents desc, event_id asc) WITH identity
    val expected = ev.groupBy(_.user_id).flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e.ts.getTime, e.event_id))
      val out = Seq.newBuilder[(Long, Long, Int, Long, Long)]
      var ses = Seq.empty[Event]
      def close(): Unit = if (ses.nonEmpty) {
        val start = ses.map(_.ts.getTime).min
        ses.map(e => (e.event_id, math.round(e.value * 100)))
          .sortBy { case (id, c) => (-c, id) }.take(k)
          .zipWithIndex.foreach { case ((id, c), i) =>
            out += ((u, start, i + 1, id, c)) }
      }
      sorted.foreach { e =>
        if (ses.nonEmpty && e.ts.getTime - ses.map(_.ts.getTime).max > gapMs) {
          close(); ses = Seq.empty
        }
        ses :+= e
      }
      close()
      out.result()
    }.toSet
    val maxTs = ev.map(_.ts.getTime).max
    val stream = MemoryStream[Event]
    // mid-corpus split so the continuing-session DIFF path (point-op
    // removeKey/updateValue against PERSISTED map entries) runs, then
    // a far-future sentinel fires every eviction timer
    val (b1, b2) = ev.sortBy(_.ts.getTime).splitAt(ev.length / 2)
    stream.addData(b1.toIndexedSeq)
    stream.addData(b2.toIndexedSeq)
    stream.addData(Seq(Event(-1L,
      new Timestamp(maxTs + 10L * 24 * 3600 * 1000), -1L, "click", 1.0)))
    val withWm = stream.toDS().withWatermark("ts", "0 seconds").as[Event]
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val q = EventsStream.sessionTopk(spark, withWm, gapMs, k)
        .writeStream.outputMode("append")
        .format("memory").queryName("topk_parity_out").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("topk_parity_out")
        .as[EventsStream.TopkEvidence].collect()
        .map(r => (r.user_id, r.start_ms, r.rank, r.event_id, r.cents))
        .toSet
      assert(got === expected,
        s"topk emitted ${got.size} rows, batch oracle ${expected.size}")
      // and the BATCH twin agrees row-for-row on the identity columns
      // (epoch-second starts; the driver oracle is ms)
      val batch = graft.ops.EventOps.eventsSessionTopk(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val gotEpoch = got.map { case (u, s, r, id, c) =>
        (u, s / 1000, r.toLong, id, c) }
      assert(gotEpoch === batch,
        "streaming evidence disagrees with the oracle-checked batch twin")
    } finally spark.conf.unset(key)
  }

  test("warm-started tws sessionizer matches the full-stream result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 30L * 60 * 1000
    val all = EventsStream.eventsAsTimestamps(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
    // split history/live so some session genuinely SPANS the cutoff:
    // find a same-user event pair within the gap and cut between them
    val cutoff = all.groupBy(_.user_id).values.flatMap { es =>
      es.sortBy(e => (e.ts.getTime, e.event_id)).sliding(2).collectFirst {
        case pair if pair.length == 2
            && pair(1).ts.getTime - pair(0).ts.getTime <= gapMs
            && pair(1).ts.getTime > pair(0).ts.getTime =>
          pair(0).ts.getTime + 1
      }
    }.headOption.getOrElse(all.map(_.ts.getTime).sorted.apply(all.length / 2))
    val (hist, live) = all.partition(_.ts.getTime < cutoff)
    assert(hist.nonEmpty && live.nonEmpty)
    val sentinelTs = all.map(_.ts.getTime).max + 10L * 24 * 3600 * 1000
    def sentinel = Event(-1L, new Timestamp(sentinelTs), -1L, "click", 1.0)
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    def run(name: String, events: Seq[Event],
        initial: Option[org.apache.spark.sql.Dataset[(Long, EventsStream.TwsSessionState)]]) = {
      val stream = MemoryStream[Event]
      stream.addData(events.toIndexedSeq)
      stream.addData(Seq(sentinel))
      val src = stream.toDS().withWatermark("ts", "0 seconds").as[Event]
      val out = initial match {
        case Some(init) => EventsStream.sessionizeTwsFrom(spark, src, init)
        case None => EventsStream.sessionizeTws(spark, src)
      }
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).as[EventsStream.TwsSession].collect()
        .map(s => (s.user_id, s.n_events, s.revenue_cents, s.start_ms,
          s.duration_ms)).toSet
    }
    try {
      // the reference run: the whole corpus through one stream
      val full = run("tws_full_out", all.toSeq, None)
      // sessions the GAP RULE closed inside history (all but each
      // user's open tail — the tail is what openSessions seeds): the
      // batch job's output, which the warm stream must NOT re-emit
      val histClosed = hist.groupBy(_.user_id).flatMap { case (u, es) =>
        val sorted = es.sortBy(e => (e.ts.getTime, e.event_id))
        val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
        var start = -1L; var last = -1L; var n = 0L; var rev = 0L
        sorted.foreach { e =>
          val t = e.ts.getTime
          val c = math.round(e.value * 100)
          if (start < 0) { start = t; last = t; n = 1; rev = c }
          else if (t - last <= gapMs) { last = t; n += 1; rev += c }
          else { out += ((u, n, rev, start, last - start))
                 start = t; last = t; n = 1; rev = c }
        }
        out.result() // the still-open tail is intentionally NOT added
      }.toSet
      // warm start: history's open tails seed the state store; only
      // live events stream
      val init = EventsStream.openSessions(spark,
        spark.createDataset(hist.toIndexedSeq))
      val warm = run("tws_warm_out", live.toSeq, Some(init))
      assert(warm === full -- histClosed,
        s"warm ${warm.size} != full ${full.size} - histClosed ${histClosed.size}")
      assert(warm.nonEmpty)
      // at least one session genuinely SPANS the cutoff (starts in
      // history, ends live) — the case warm-starting exists for
      assert(warm.exists(s => s._4 < cutoff && s._4 + s._5 >= cutoff),
        "no session spans the cutoff; the warm-start test is vacuous")
    } finally spark.conf.unset(key)
  }

  test("transformWithState custom eviction frees state after the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, user: Long, minute: Long) =
      Event(id, new Timestamp((600 + minute) * 60000L), user, "click", 2.5)
    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    val stream = MemoryStream[Event]
    // 10 users, 2 events each (redelivered ids don't matter here —
    // the risk is session state OUTLIVING the gap horizon)
    stream.addData((1L to 10L).flatMap(u =>
      Seq(ev(u * 10, u, u), ev(u * 10 + 1, u, u + 5))))
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val withWm = stream.toDS().withWatermark("ts", "0 seconds").as[Event]
      val q = EventsStream.sessionizeTws(spark, withWm)
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_evict_out").start()
      try {
        q.processAllAvailable()
        // sentinel pushes the watermark past every gap timer: the
        // expired timers must EMIT and CLEAR all 10 user rows
        stream.addData(Seq(ev(9999, 999L, 100000L)))
        q.processAllAvailable()
        stream.addData(Seq(ev(10000, 999L, 100001L)))
        q.processAllAvailable()
        assert(spark.table("tws_evict_out")
          .filter(col("user_id") <= 10).count() === 10L)
        // only the sentinel user's open session may remain in state
        assert(stateRows(q) <= 1L,
          s"session state not evicted: ${stateRows(q)} rows remain")
      } finally q.stop()
    } finally spark.conf.unset(key)
  }

  test("an in-watermark out-of-order event in a LATER micro-batch " +
      "cannot shrink the session envelope") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, minute: Long) =
      Event(id, new Timestamp((600 + minute) * 60000L), 1L, "click", 1.0)
    def far(id: Long, minute: Long) =
      Event(id, new Timestamp((600 + minute) * 60000L), -1L, "click", 1.0)
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      for ((name, mk) <- Seq[(String,
          org.apache.spark.sql.Dataset[Event] =>
            org.apache.spark.sql.Dataset[_])](
          "ooo_tws_out" -> (ds => EventsStream.sessionizeTws(spark, ds)),
          "ooo_et_out" -> (ds =>
            EventsStream.sessionizeEventTime(spark, ds)))) {
        val stream = MemoryStream[Event]
        // 1-hour delay keeps the minute-10 straggler IN-watermark even
        // after the minute-20 event advanced the watermark
        val src = stream.toDS().withWatermark("ts", "1 hour").as[Event]
        val q = mk(src).writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        try {
          stream.addData(Seq(ev(1, 0), ev(2, 20)))
          q.processAllAvailable()
          // the straggler: minute 10, delivered one micro-batch later.
          // The buggy fold set lastMs = 10 — session tail regressed,
          // duration shrank from 20 min to 10 min
          stream.addData(Seq(ev(3, 10)))
          q.processAllAvailable()
          // watermark push + eviction batch close the session
          stream.addData(Seq(far(100, 100000L)))
          q.processAllAvailable()
          stream.addData(Seq(far(101, 100001L)))
          q.processAllAvailable()
          val s = spark.table(name).filter(col("user_id") === 1L).collect()
          assert(s.length === 1, s"$name: expected one closed session")
          assert(s.head.getAs[Long]("n_events") === 3L, name)
          assert(s.head.getAs[Long]("start_ms") === 600L * 60000L, name)
          assert(s.head.getAs[Long]("duration_ms") === 20L * 60000L,
            s"$name: out-of-order straggler shrank the session")
        } finally q.stop()
      }
    } finally spark.conf.unset(key)
  }

  test("stateful sessionizer closes sessions on gaps") {
    import spark.implicits._
    def ev(id: Long, user: Long, minute: Long) =
      Event(id, new Timestamp(minute * 60000L), user, "click", 1.0)
    // user 1: events at t=0,10 then a 60-min gap then t=70 (2 sessions,
    // second still open); user 2: single event (open session)
    val events = Seq(ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 70), ev(4, 2, 5))
    val closed = EventsStream.sessionize(spark, events.toDS()).collect()
    assert(closed.length === 1)
    assert(closed.head.user_id === 1 && closed.head.n_events === 2)
  }

  test("intensity drift: t0 rows anchor at zero drift, means in range") {
    val rows = BinaryFrames.intensityDrift(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 255,
        s"mean out of uint8 range: $r")
      if (r.getInt(1) == 0)
        assert(r.getDouble(4) === 0.0, s"t0 must self-reference: $r")
    }
  }

  test("focus rank: at most 5 per dataset, variance ranked ascending") {
    val rows = BinaryFrames.focusRank(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      val sorted = g.sortBy(_.getLong(1))
      assert(sorted.length <= 5)
      val vs = sorted.map(_.getDouble(3))
      assert(vs.zip(vs.tail).forall { case (a, b) => a <= b },
        "blurriest-first order broken")
      vs.foreach(v => assert(v >= 0, "negative variance"))
    }
  }

  test("pixel histogram: bins partition the pixel volume, shares sum to 1") {
    val rows = BinaryFrames.pixelHistogram(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bin = r.getInt(1)
      assert(bin >= 0 && bin <= 15, s"bin out of range: $r")
      assert(r.getLong(2) > 0, s"zero bin must be absent: $r")
    }
    rows.groupBy(_.getString(0)).foreach { case (ds, g) =>
      assert(g.map(_.getLong(2)).sum % 64 === 0,
        s"$ds: pixel volume not a whole number of 8x8 frames")
      val pctSum = g.map(_.getDouble(3)).sum
      assert(math.abs(pctSum - 1.0) < 1e-4, s"$ds: shares sum to $pctSum")
    }
  }

  test("grayStats bins a uint16 frame by its own depth range") {
    import spark.implicits._
    import graft.multimodal.ImageCodec
    // planted 16-bit values spanning the range: bin = v >> 12
    val px16 = Array(0, 4095, 4096, 40000, 65535, 65535)
    val payload = ImageCodec.encodeGray16(px16, 3, 2)
    val framed = Seq((1L, payload)).toDF("frame_id", "payload")
    val (nPx, bins) = BinaryFrames.decodeWith(framed, BinaryFrames.grayStats)
      .select("n_px", "bins").as[(Int, Array[Long])].collect()(0)
    assert(nPx === 6)
    assert(bins.sum === 6)
    assert(bins(0) === 2)   // 0 and 4095
    assert(bins(1) === 1)   // 4096
    assert(bins(40000 >> 12) === 1)
    assert(bins(15) === 2)  // the two saturated samples
  }

  test("saturation QC agrees with the histogram's edge bins") {
    val hist = BinaryFrames.pixelHistogram(spark, sfDir).collect()
      .groupBy(_.getString(0))
    val rows = BinaryFrames.saturationQc(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val g = hist(r.getString(0))
      def binPx(b: Int) =
        g.find(_.getInt(1) == b).map(_.getLong(2)).getOrElse(0L)
      assert(r.getLong(2) === g.map(_.getLong(2)).sum, s"total_px: $r")
      assert(r.getLong(3) === binPx(15), s"n_sat != bin15: $r")
      assert(r.getLong(4) === binPx(0), s"n_dark != bin0: $r")
    }
  }

  test("binary frame plumbing: PNG payloads decode with stable schema") {
    val framed = BinaryFrames.withPayload(spark, sfDir)
    val feats = BinaryFrames.decodeFrames(spark, framed)
    assert(feats.count() === framed.count())
    // real decode: 8x8 planted frames, pixel stats in uint8 range
    val bad = feats.filter(col("n_px") =!= 64
      || col("width") =!= 8 || col("height") =!= 8
      || col("mean_px") < 0 || col("mean_px") > 255).count()
    assert(bad === 0)
    // every payload is a genuine PNG (8-byte magic signature)
    val sig = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a,
      0x1a, 0x0a)
    val nonPng = framed
      .filter(expr(s"substring(payload, 1, 8) <> X'${sig.map(b => f"${b & 0xff}%02x").mkString}'")).count()
    assert(nonPng === 0)
    val sampled = BinaryFrames.sampleFrames(framed, 10)
    assert(sampled.count() > 0 && sampled.count() < framed.count())
    // real resize: the decoded dims of the resized payload shrink by
    // the factor (nearest-neighbor resample, not a truncation stub)
    val resized = BinaryFrames.resizeFrames(framed, 4)
    val r = resized.select(col("meta.width"), col("meta.height"),
      col("payload")).head()
    assert(r.getInt(0) === 2 && r.getInt(1) === 2)
    val (rw, rh, _) = graft.multimodal.ImageCodec.decodeGray(
      r.getAs[Array[Byte]](2))
    assert(rw === 2 && rh === 2)
  }

  test("WAV codec round-trips PCM16 and fails loudly on bad input") {
    import graft.multimodal.AudioCodec
    val s = Array.tabulate(300)(i => ((i * 4099 + 7) % 65536 - 32768).toShort)
    val wav = AudioCodec.encodePcm16(s, 16000)
    // genuine RIFF on disk-shaped bytes
    assert(new String(wav, 0, 4, "US-ASCII") === "RIFF")
    val (rate, back) = AudioCodec.decodePcm16(wav)
    assert(rate === 16000)
    assert(back.toSeq === s.toSeq)
    // a decoder that skips unknown chunks: splice a LIST chunk before data
    val spliced = {
      val head = wav.slice(0, 36) // RIFF..fmt chunk end
      val list = "LIST".getBytes("US-ASCII") ++
        Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
      head ++ list ++ wav.slice(36, wav.length)
    }
    assert(AudioCodec.decodePcm16(spliced)._2.toSeq === s.toSeq)
    // loud failures: truncated header, non-PCM format tag, bad chunk len
    intercept[IllegalArgumentException] {
      AudioCodec.decodePcm16(Array[Byte](1, 2, 3))
    }
    val nonPcm = wav.clone(); nonPcm(20) = 2 // format tag -> ADPCM
    intercept[IllegalArgumentException] { AudioCodec.decodePcm16(nonPcm) }
    val badLen = wav.clone(); badLen(40) = 0x7f // data len past payload
    intercept[IllegalArgumentException] { AudioCodec.decodePcm16(badLen) }
    // an invalid (zero) fmt sample rate must fail IN the fmt branch
    // with its own message, not later as a bogus "data before fmt"
    val badRate = wav.clone()
    badRate(24) = 0; badRate(25) = 0; badRate(26) = 0; badRate(27) = 0
    val rateErr = intercept[IllegalArgumentException] {
      AudioCodec.decodePcm16(badRate)
    }
    assert(rateErr.getMessage.contains("sample rate"))
    // a forged ~2 GB chunk length must hit the bound guard, not wrap
    // the Int check negative and OOM on allocation
    val huge = wav.clone()
    huge(40) = 0xf0.toByte; huge(41) = 0xff.toByte
    huge(42) = 0xff.toByte; huge(43) = 0x7f.toByte
    intercept[IllegalArgumentException] { AudioCodec.decodePcm16(huge) }
    // the stats decode path consumes the generated payloads end to end
    val clips = graft.multimodal.BinaryAudio
      .withAudioPayload(spark, sfDir)
    val feats = BinaryFrames.decodeWith(clips,
      graft.multimodal.BinaryAudio.clipStats)
    assert(feats.count() === clips.count())
    assert(feats.filter(col("n") =!= 256 || col("sample_rate") =!= 16000)
      .count() === 0)
  }

  test("audio activity windows: quota arithmetic, below-mean quiet " +
      "fraction strictly inside (0,1), dynamic range >= 1") {
    val rows = graft.multimodal.BinaryAudio
      .activityWindows(spark, sfDir).collect()
    val base = graft.multimodal.BinaryAudio
      .waveformStats(spark, sfDir).collect()
    assert(rows.length === base.length,
      "activity and loudness reports must cover the same datasets")
    rows.foreach { r =>
      val (nClips, nWin, nQuiet) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nWin === nClips * 8, s"window quota violated: $r")
      // a clip's windows can't ALL sit below the clip mean, and the
      // sha-derived samples are never flat, so some always do
      assert(nQuiet > 0 && nQuiet < nWin, s"degenerate quiet count: $r")
      assert(r.getDouble(4) > 0 && r.getDouble(4) < 1)
      assert(r.getDouble(5) >= 1.0, s"dyn range below 1: $r")
      assert(math.abs(r.getDouble(6)) < 32768, s"dc offset bounds: $r")
    }
  }

  test("codec round-trip: decode(encode(im)) == im at uint8 and uint16") {
    import graft.multimodal.ImageCodec
    // planted uint8 frame (the payload shape withPayload generates)
    val px8 = Array.tabulate(64)(i => ((i * 37 + 11) % 256).toByte)
    val enc8 = ImageCodec.encodeGray8(px8, 8, 8)
    val (w8, h8, back8) = ImageCodec.decodeGray(enc8)
    assert(w8 === 8 && h8 === 8)
    assert(back8.toSeq === px8.map(_ & 0xff).toSeq)
    // uint16: the reference's native microscope depth
    // (image_utils.py:5-30 round-trips uint16 via PNG's 16-bit gray)
    val px16 = Array.tabulate(48)(i => (i * 4099 + 257) % 65536)
    val enc16 = ImageCodec.encodeGray16(px16, 8, 6)
    val (w16, h16, back16) = ImageCodec.decodeGray(enc16)
    assert(w16 === 8 && h16 === 6)
    assert(back16.toSeq === px16.toSeq)
    // non-image payloads fail loudly, not silently
    intercept[IllegalArgumentException] {
      ImageCodec.decodeGray(Array[Byte](1, 2, 3, 4))
    }
    // a valid signature with a corrupted chunk length must fail the
    // same loud way (not hang the chunk walk or escape as IOOBE)
    val evil = enc8.clone()
    evil(8) = 0xff.toByte // first byte of the IHDR length, now huge
    intercept[IllegalArgumentException] { ImageCodec.decodeGray(evil) }
    // a zlib stream declaring a preset dictionary can never be
    // satisfied by the decoder's loop — it must fail loudly, not spin
    // forever (the inflate returns 0 with needsDictionary, not
    // needsInput). Build the hostile PNG by hand: valid chunks, valid
    // CRCs, FDICT-flagged IDAT
    val raw = Array[Byte](0, 1, 2, 0, 3, 4) // 2x2 gray8, filter None
    val d = new java.util.zip.Deflater()
    d.setDictionary(Array.fill[Byte](16)(7))
    d.setInput(raw); d.finish()
    val zbuf = new Array[Byte](256)
    val zlen = d.deflate(zbuf); d.end()
    val dictIdat = java.util.Arrays.copyOf(zbuf, zlen)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a,
      0x1a, 0x0a))
    def writeChunk(ctype: String, data: Array[Byte]): Unit = {
      def be32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      bos.write(be32(data.length))
      val t = ctype.getBytes("US-ASCII")
      bos.write(t); bos.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      bos.write(be32(crc.getValue.toInt))
    }
    writeChunk("IHDR", Array[Byte](0, 0, 0, 2, 0, 0, 0, 2, 8, 0, 0, 0, 0))
    writeChunk("IDAT", dictIdat)
    writeChunk("IEND", Array.emptyByteArray)
    intercept[IllegalArgumentException] {
      ImageCodec.decodeGray(bos.toByteArray)
    }
  }

  test("codec round-trips arbitrary dims and contents (property sweep)") {
    import graft.multimodal.ImageCodec
    val rnd = new scala.util.Random(42L) // fixed seed
    for (trial <- 1 to 40) {
      val w = 1 + rnd.nextInt(37)
      val h = 1 + rnd.nextInt(29)
      if (trial % 2 == 0) {
        val px = Array.fill(w * h)(rnd.nextInt(256).toByte)
        val (dw, dh, back) = ImageCodec.decodeGray(
          ImageCodec.encodeGray8(px, w, h))
        assert(dw == w && dh == h)
        assert(back.toSeq == px.map(_ & 0xff).toSeq, s"8-bit ${w}x$h")
      } else {
        val px = Array.fill(w * h)(rnd.nextInt(65536))
        val (dw, dh, back) = ImageCodec.decodeGray(
          ImageCodec.encodeGray16(px, w, h))
        assert(dw == w && dh == h)
        assert(back.toSeq == px.toSeq, s"16-bit ${w}x$h")
      }
    }
  }

  test("codec emits and reads STANDARD PNG (javax.imageio cross-check)") {
    import graft.multimodal.ImageCodec
    // our encoder's output must be a PNG any standard reader accepts
    val px8 = Array.tabulate(64)(i => ((i * 53 + 7) % 256).toByte)
    val ours = ImageCodec.encodeGray8(px8, 8, 8)
    val im = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ours))
    assert(im != null, "javax.imageio could not read our PNG")
    assert(im.getWidth === 8 && im.getHeight === 8)
    val viaImageIo = Array.tabulate(64)(i =>
      im.getRaster.getSample(i % 8, i / 8, 0))
    assert(viaImageIo.toSeq === px8.map(_ & 0xff).toSeq)
    // and our decoder must read OTHER encoders' PNGs (javax.imageio
    // picks adaptive scanline filters — exercises the filter paths;
    // 67x43 at 16-bit makes Sub/Up/Avg/Paeth all plausible)
    val w = 67; val h = 43
    val big = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    val plant = Array.tabulate(w * h)(i => (i * 2654435761L % 65536).toInt)
    plant.zipWithIndex.foreach { case (v, i) =>
      big.getRaster.setSample(i % w, i / w, 0, v) }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(big, "png", bos)
    val (dw, dh, dpx) = ImageCodec.decodeGray(bos.toByteArray)
    assert(dw === w && dh === h)
    assert(dpx.toSeq === plant.toSeq)
  }

  test("codec RGB (color type 2) round-trips, resizes, and is standard") {
    import graft.multimodal.ImageCodec
    // 8-bit RGB round-trip (interleaved samples)
    val s8 = Array.tabulate(3 * 8 * 8)(i => ((i * 41 + 13) % 256).toByte)
    val enc8 = ImageCodec.encodeRgb8(s8, 8, 8)
    val (w8, h8, back8) = ImageCodec.decodeRgb(enc8)
    assert(w8 === 8 && h8 === 8)
    assert(back8.toSeq === s8.map(_ & 0xff).toSeq)
    // 16-bit RGB round-trip
    val s16 = Array.tabulate(3 * 6 * 5)(i => (i * 4099 + 9) % 65536)
    val enc16 = ImageCodec.encodeRgb16(s16, 6, 5)
    val (w16, h16, back16) = ImageCodec.decodeRgb(enc16)
    assert(w16 === 6 && h16 === 5)
    assert(back16.toSeq === s16.toSeq)
    // color/gray misuse fails loudly both ways
    intercept[IllegalArgumentException] { ImageCodec.decodeGray(enc8) }
    intercept[IllegalArgumentException] {
      ImageCodec.decodeRgb(ImageCodec.encodeGray8(new Array[Byte](4), 2, 2))
    }
    // nearest-neighbor RGB resize keeps pixels whole (no channel mixing)
    val rs = ImageCodec.resizeImage(enc8, 4)
    val (rw, rh, rpx) = ImageCodec.decodeRgb(rs)
    assert(rw === 2 && rh === 2)
    val expect = for (y <- 0 until 2; x <- 0 until 2; c <- 0 until 3)
      yield s8((4 * y * 8 + 4 * x) * 3 + c) & 0xff
    assert(rpx.toSeq === expect)
    // standard-compliance cross-check: javax.imageio reads our RGB PNG
    val im = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(enc8))
    assert(im != null, "javax.imageio could not read our RGB PNG")
    assert(im.getWidth === 8 && im.getHeight === 8)
    val viaImageIo = for (i <- 0 until 64; c <- 0 until 3)
      yield im.getRaster.getSample(i % 8, i / 8, c)
    assert(viaImageIo === back8.toSeq)
    // and we read OTHER encoders' RGB PNGs (adaptive filters, odd dims)
    val w = 53; val h = 31
    val big = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val plant = Array.tabulate(w * h * 3)(i => ((i * 2654435761L) % 256).toInt)
    for (i <- 0 until w * h; c <- 0 until 3)
      big.getRaster.setSample(i % w, i / w, c, plant(3 * i + c))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(big, "png", bos)
    val (dw, dh, dpx) = ImageCodec.decodeRgb(bos.toByteArray)
    assert(dw === w && dh === h)
    assert(dpx.toSeq === plant.toSeq)
  }

  test("squeezed dim order drops exactly the singleton dimensions") {
    import spark.implicits._
    // data_storage.py:69-86: "XYGZCTP" minus singletons. Planted:
    //  ds1: 2 channels × 2 slices           → XYZC
    //  ds2: a single frame                  → XY
    //  ds3: pure time series (3 timepoints) → XYT
    //  ds4: RGB, width 1, single grid       → XG
    val frames = Seq(
      (1L, 0, 0, 0, 0), (1L, 1, 0, 0, 0), (1L, 0, 1, 0, 0), (1L, 1, 1, 0, 0),
      (2L, 0, 0, 0, 0),
      (3L, 0, 0, 0, 0), (3L, 0, 0, 1, 0), (3L, 0, 0, 2, 0),
      (4L, 0, 0, 0, 0))
      .toDF("dataset_id", "channel_idx", "slice_idx", "time_idx", "pos_idx")
      .withColumn("payload", lit(Array[Byte](1, 2)))
    val geometry = Seq(
      (1L, 2048, 2048, 1), (2L, 2048, 2048, 1), (3L, 2048, 2048, 1),
      (4L, 512, 1, 3))
      .toDF("dataset_id", "im_height", "im_width", "im_colors")
    val out = BinaryFrames.assembleStacksOf(frames, geometry)
      .select("dataset_id", "dim_order").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "XYZC", 2L -> "XY", 3L -> "XYT", 4L -> "XG"))
  }

  test("RGB stack assembly: real color payloads survive, G axis kept") {
    import spark.implicits._
    import graft.multimodal.ImageCodec
    // an im_colors=3 brightfield stack: 2 timepoints × 2 positions,
    // one REAL RGB PNG per frame with planted per-frame pixels
    def plant(t: Int, p: Int): Array[Byte] =
      Array.tabulate(3 * 4 * 4)(i => ((i * 7 + 31 * t + 101 * p) % 256).toByte)
    val rows = for (t <- 0 to 1; p <- 0 to 1)
      yield (7L, 0, 0, t, p, ImageCodec.encodeRgb8(plant(t, p), 4, 4))
    val frames = rows.toDF("dataset_id", "channel_idx", "slice_idx",
      "time_idx", "pos_idx", "payload")
    val geometry = Seq((7L, 4, 4, 3))
      .toDF("dataset_id", "im_height", "im_width", "im_colors")
    val out = BinaryFrames.assembleStacksOf(frames, geometry).head()
    assert(out.getAs[String]("dim_order") === "XYGTP")
    val stack = out.getSeq[org.apache.spark.sql.Row](
      out.fieldIndex("stack"))
    assert(stack.length === 4)
    // in-stack (t, p) order is lexicographic, and every payload decodes
    // back to its planted RGB pixels (color axis rides INSIDE the
    // payload, exactly the reference's squeeze_stack G placement)
    for ((r, i) <- stack.zipWithIndex) {
      val (t, p) = (r.getInt(2), r.getInt(3))
      assert((t, p) === (i / 2, i % 2))
      val (w, h, px) = ImageCodec.decodeRgb(r.getAs[Array[Byte]]("payload"))
      assert(w === 4 && h === 4)
      assert(px.toSeq === plant(t, p).map(_ & 0xff).toSeq)
    }
  }

  test("shape-forced stack fill: short frame lists zero-pad, long " +
      "ones flag overflow") {
    import spark.implicits._
    // data_storage.py:170-197 get_stack_with_shape: contiguous fill
    // in file-name order into a caller-supplied slot count.
    //  ds1: 2 frames into 4 slots → slots 2/3 zero-filled
    //  ds2: 5 frames into 4 slots → the reference's IndexError,
    //       batch-form overflow flag, fill truncated
    val frames = (
      Seq((1L, "im_b.png", Array[Byte](9, 9)),
        (1L, "im_a.png", Array[Byte](7, 7))) ++
      (0 until 5).map(i => (2L, f"im_$i%03d.png", Array[Byte](i.toByte))))
      .toDF("dataset_id", "file_name", "payload")
    val geometry = Seq((1L, 2, 3, 1), (2L, 1, 1, 1))
      .toDF("dataset_id", "im_height", "im_width", "im_colors")
    val out = BinaryFrames
      .assembleStacksWithShape(frames, geometry, slots = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    val d1 = out(1L)
    assert(d1.getLong(1) === 2 && d1.getLong(2) === 4)
    assert(!d1.getBoolean(3))
    val s1 = d1.getSeq[org.apache.spark.sql.Row](4)
    assert(s1.length === 4)
    // contiguity is FILE-NAME order, not insertion order
    assert(s1(0).getString(1) === "im_a.png" &&
      s1(0).getAs[Array[Byte]](2).toSeq === Seq[Byte](7, 7))
    assert(s1(1).getString(1) === "im_b.png")
    // empty slots: null name, np.zeros-style payload at the dataset's
    // frame byte size (2×3×1 px × 2 bytes)
    for (i <- 2 to 3) {
      assert(s1(i).isNullAt(1), s"slot $i must have no file")
      assert(s1(i).getAs[Array[Byte]](2).toSeq
        === Seq.fill(12)(0.toByte), s"slot $i not zero-filled")
    }
    val d2 = out(2L)
    assert(d2.getLong(1) === 5 && d2.getBoolean(3), "overflow must flag")
    assert(d2.getSeq[org.apache.spark.sql.Row](4).length === 4)
  }

  test("stack assembly orders each dataset's payloads by c/z/t/p") {
    val stacks = BinaryFrames.assembleStacks(spark, sfDir)
    val row = stacks.select(col("n_frames"), col("stack"))
      .filter(col("n_frames") > 2).head()
    val stack = row.getSeq[org.apache.spark.sql.Row](1)
    assert(stack.length === row.getLong(0))
    // in-stack order is lexicographic on (channel, slice, time, pos)
    val coords = stack.map(r =>
      (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(coords === coords.sorted)
    // every payload is the 64-byte stub
    assert(stack.forall(_.getAs[Array[Byte]]("payload").length === 64))
    // total frames across stacks == total frames in the model
    val total = stacks.agg(sum("n_frames")).head().getLong(0)
    assert(total ===
      graft.imaging.ImagingModel.frames(spark, sfDir).count())
  }
}
