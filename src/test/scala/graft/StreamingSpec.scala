package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Structured Streaming operators driven through MemoryStream, asserting
  * equivalence with the batch twins where the semantics overlap. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  private def runStream[T](events: Seq[Event])(
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = build(mem.toDF()).writeStream
      .format("memory").queryName("streamspec_out").outputMode(OutputMode.Append()).start()
    try { q.processAllAvailable() } finally q.stop()
    spark.table("streamspec_out").collect().toSeq
  }

  test("windowed counts on a stream match the batch groupBy") {
    val events = (0 until 120).map(i =>
      Event(i.toLong, ts(i), i % 5, if (i % 2 == 0) "click" else "view", 1.0))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = EventStreams.windowedCounts(mem.toDF()).writeStream
      .format("memory").queryName("win_out").outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("win_out")
      .select($"window_start", $"event_type", $"n_events").collect().toSet
    val batch = EventStreams.windowedCounts(events.toDF())
      .select($"window_start", $"event_type", $"n_events").collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("sliding windows assign each event to every overlapping window") {
    val events = (0 until 30).map(i => Event(i.toLong, ts(i * 2), 1, "click", 1.0))
    val out = EventStreams.slidingRate(events.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getLong(2)))
    // 1-hour window sliding by 10 min → each event lands in 6 windows
    assert(out.map(_._2).sum === 30L * 6)
  }

  test("stateful sessionization closes a session after the 30-min gap") {
    // user 1: events at t0, t0+10m  — then silence; a later event at
    // t0+120m advances the watermark past the timeout and closes session 1.
    val events = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(240), 2, "view", 5.0)) // watermark driver
    val rows = runStream(events)(df =>
      EventStreams.sessionize(df.as[Event]).toDF())
    val closed = rows.map(r => (r.getLong(0), r.getLong(3), r.getDouble(5)))
    assert(closed.contains((1L, 2L, 3.0)), s"expected user-1 session closed, got $closed")
  }

  test("sub-second timestamps: streaming gap rule matches batch second-truncation") {
    // batch rule: floor both instants to seconds, split when diff > 1800.
    // .900 → 30:00.400: truncated gap exactly 1800 → SAME session, even
    // though the exact-ms gap (1799.5s < 1800s) and a naive ms rule agree
    // here; .100 → 30:00.600 is the divergent case: exact gap 1800.5s
    // would split, truncated gap 1800 keeps one session.
    def tms(ms: Long) = new Timestamp(1700000000000L + ms)
    val events = Seq(
      Event(1, tms(100), 9, "click", 1.0),
      Event(2, tms(30 * 60 * 1000 + 600), 9, "click", 2.0),
      Event(3, tms(10 * 60 * 60 * 1000), 8, "view", 5.0)) // watermark driver
    val rows = runStream(events)(df => EventStreams.sessionize(df.as[Event]).toDF())
    val user9 = rows.filter(_.getLong(0) == 9L)
    assert(user9.map(_.getLong(3)) === Seq(2L),
      s"expected ONE 2-event session for user 9 (batch truncation rule), got $user9")
    assert(user9.head.getLong(4) === 1800L, "duration on truncated seconds")
  }

  test("cross-batch late event within the gap lowers the open session's start") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS()).toDF().writeStream
      .format("memory").queryName("late_out").outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Event(1, ts(60), 1, "a", 1.0)) // batch 1: session opens at t+60m
      q.processAllAvailable()
      // batch 2: late event 10 min BEFORE the session start (within gap),
      // then a watermark driver far in the future to close everything
      mem.addData(Event(2, ts(50), 1, "a", 2.0), Event(3, ts(600), 2, "w", 0.0))
      q.processAllAvailable()
      mem.addData(Event(4, ts(2000), 3, "w", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val user1 = spark.table("late_out").collect().filter(_.getLong(0) == 1L)
    assert(user1.length === 1)
    assert(user1.head.getLong(3) === 2L, "late event merged")
    assert(user1.head.getTimestamp(1) === ts(50), "session start lowered to the late event")
    assert(user1.head.getLong(4) === 600L, "duration spans the lowered start")
  }

  test("streaming dedup drops duplicate event ids") {
    val events = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(1, ts(1), 1, "click", 1.0), // dup id
      Event(2, ts(2), 1, "view", 2.0))
    val rows = runStream(events)(EventStreams.dedupStream)
    assert(rows.map(_.getAs[Long]("event_id")).sorted === Seq(1L, 2L))
  }

  test("file-source readStream: windowed counts over the events table match batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val events = Tables.load(spark, sf, "events")
    events.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val q = EventStreams.windowedCounts(stream).writeStream
      .format("memory").queryName("file_win_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("file_win_out")
      .select($"window_start", $"event_type", $"n_events").collect().toSet
    val batch = EventStreams.windowedCounts(events)
      .select($"window_start", $"event_type", $"n_events").collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("readStream -> transform -> parquet writeStream with checkpoint (exactly-once sink)") {
    val base = java.nio.file.Files.createTempDirectory("graft-sink")
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val events = Tables.load(spark, sf, "events")
    events.write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(events.schema).parquet(in)
    val q = EventStreams.toParquetSink(
      EventStreams.dedupStream(stream), out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val written = spark.read.parquet(out)
    assert(written.count() === events.dropDuplicates("event_id").count())
    // restart over the same checkpoint: no new data -> no duplicate batch
    val q2 = EventStreams.toParquetSink(
      EventStreams.dedupStream(spark.readStream.schema(events.schema).parquet(in)), out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(out).count() === written.count())
  }

  test("e13 twin: streamed replay dedup keeps exactly the first arrivals (stream ≡ min-ts batch)") {
    // originals arrive in batch 1, replayed duplicates (same event_id,
    // +7 min) in batch 2 — dropDuplicatesWithinWatermark must suppress
    // every replay (state is still live: 7 min « the 1 h watermark), so
    // the streamed survivors are precisely e13's min-ts batch answer.
    val originals = (0 until 40).map(i => Event(i.toLong, ts(i), i % 5, "click", 1.0))
    val replays = originals.filter(_.event_id % 13 == 0)
      .map(e => e.copy(ts = new Timestamp(e.ts.getTime + 7 * 60000L)))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupStream(mem.toDF()).writeStream
      .format("memory").queryName("e13_out").outputMode(OutputMode.Append()).start()
    try {
      mem.addData(originals: _*)
      q.processAllAvailable()
      mem.addData(replays: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("e13_out").select($"event_id", $"ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toMap
    val batch = (originals ++ replays).toDF()
      .groupBy($"event_id").agg(org.apache.spark.sql.functions.min($"ts").as("ts_first"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1))).toMap
    assert(streamed === batch)
    assert(streamed.size === 40)
    assert(replays.nonEmpty, "fixture must actually replay something")
  }

  test("custom sessionization agrees with Spark's built-in session_window away from boundaries") {
    // whole-minute gaps of 29 or 31 min: both the >1800s rule (e01 /
    // sessionize) and session_window's <30min-merge rule agree; only the
    // exact-1800s boundary differs by design (e01 merges, window splits).
    val events = Seq(
      Event(1, ts(0), 1, "a", 1.0), Event(2, ts(29), 1, "a", 1.0),   // same session
      Event(3, ts(60), 1, "a", 1.0),                                  // 31min gap: new
      Event(4, ts(75), 1, "a", 1.0),
      Event(5, ts(0), 2, "a", 1.0))
    val builtIn = events.toDF()
      .groupBy(org.apache.spark.sql.functions.session_window($"ts", "30 minutes"), $"user_id")
      .count()
      .select($"user_id", $"count")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // streaming emits only closed sessions; close everything via a late
    // watermark driver and compare the per-session event counts
    val events2 = events :+ Event(99, ts(3000), 3, "w", 0.0)
    val closed = runStream(events2)(df => EventStreams.sessionize(df.as[Event]).toDF())
      .filter(_.getLong(0) != 3L)
      .map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    assert(closed === builtIn, s"custom=$closed builtin=$builtIn")
  }

  test("batch sessionization equals streaming semantics on a bounded set") {
    // same gap rule computed by the batch operator over the events table
    val batch = graft.operators.EventsAnalytics.e01Sessionize(spark, sf)
    assert(batch.count() > 0)
    val r = batch.select($"duration_s").as[Long].collect()
    assert(r.forall(_ >= 0))
  }

  test("e15 twin: foreachBatch dedup stream (corpus index + growing stream index) " +
      "equals the ordered batch fold, including a cross-batch duplicate") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    import graft.streaming.DedupStream
    // crafted pair: a batch-0 stream doc (21000: %7=0, (÷7)%3=0) and its
    // byte-identical echo in batch 2 (21014: %7=0, (÷7)%3=2), with a text
    // that exists NOWHERE in the corpus — so the echo's exact_dup verdict
    // can only come from the stream-side index appended by the earlier
    // micro-batch, never from the corpus index
    val docsRaw = Tables.load(spark, sf, "documents")
    val uniqueText = "zz unique stream only token sequence " +
      "alpha beta gamma delta epsilon zeta eta theta"
    val (origId, echoId) = (21000L, 21014L)
    val docs = docsRaw.select($"doc_id", $"text").unionByName(
      Seq((origId, uniqueText), (echoId, uniqueText)).toDF("doc_id", "text"))

    val base = java.nio.file.Files.createTempDirectory("graft-dstream").toString
    val corpus = docs.where($"doc_id" % Dedup.IncrementalMod =!= 0)
    Dedup.withBatchIndex(corpus) { (idx, sh) =>
      idx.write.parquet(s"$base/corpus_index")
      sh.write.parquet(s"$base/corpus_shingles")
    }
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = DedupStream.verdictStream(mem.toDF().toDF("doc_id", "text"),
      spark.read.parquet(s"$base/corpus_index"),
      spark.read.parquet(s"$base/corpus_shingles"),
      s"$base/out", s"$base/ckpt")
    try {
      val streamDocs = docs
        .where($"doc_id" % Dedup.IncrementalMod === 0)
        .withColumn("b",
          expr(s"(doc_id div ${Dedup.IncrementalMod}) % ${Dedup.NumStreamBatches}"))
        .collect()
      var seen = 0L
      (0 until Dedup.NumStreamBatches).foreach { i =>
        val batch = streamDocs.filter(_.getLong(2) == i)
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        mem.addData(batch: _*)
        q.processAllAvailable() // one micro-batch per stream batch
        // state-growth contract (r11 task 7; the sf1×5-trigger wall
        // measurement is PERF.md 12g):
        // this design's state is the PARQUET stream index, not
        // state-store rows — after every trigger it must hold EXACTLY
        // one index row per admitted doc (nothing unbounded, no
        // re-derivation of earlier batches), and the checkpointed query
        // carries no stateful operator at all
        seen += batch.size
        assert(spark.read.parquet(s"$base/out/stream_index").count() === seen,
          s"stream index must grow by exactly the admitted docs at trigger $i")
      }
      assert(q.lastProgress.stateOperators.isEmpty,
        "foreachBatch dedup must keep NO state-store operator — its state is the warehouse index")
    } finally q.stop()

    def asSet(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"verdict", $"match_id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val streamed = asSet(spark.read.parquet(s"$base/out/verdicts"))
    val fold = asSet(Dedup.streamDedupFold(docs))
    assert(streamed === fold, "stream must equal the ordered batch fold")
    assert(streamed.contains((echoId, "exact_dup", origId)),
      s"the batch-2 echo of a batch-0 doc must be caught via the stream index: " +
        streamed.filter(_._1 == echoId))
  }

  // last state-operator progress row of a query (no-data timeout batches
  // also report one, so scan recentProgress from the end)
  private def lastStateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.reverseIterator
      .flatMap(_.stateOperators.headOption).map(_.numRowsTotal)
      .toSeq.headOption.getOrElse(-1L)

  test("MemoryStream sessionization across 3 triggers: nothing closes early, " +
      "the watermark closes idle sessions, and their state is evicted") {
    // File replay cannot pin trigger-boundary behavior (one file = one
    // batch, watermark jumps once); this drives THREE explicit triggers
    // with advancing event time and asserts the state store's row count
    // from the progress metrics — eviction, not just emission.
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS()).toDF().writeStream
      .format("memory").queryName("mem_sess_3trig")
      .outputMode(OutputMode.Append()).start()
    try {
      // trigger 1: five users, two events each, 5 min apart (one open
      // session per user; watermark still before every timeout)
      mem.addData((1 to 5).flatMap(u =>
        Seq(Event(u * 10L, ts(0), u, "a", 1.0),
          Event(u * 10L + 1, ts(5), u, "a", 2.0))): _*)
      q.processAllAvailable()
      assert(spark.table("mem_sess_3trig").isEmpty,
        "no session may close before the watermark passes its gap")
      assert(lastStateRows(q) === 5L,
        s"one state row per open user session, got ${lastStateRows(q)}")
      // trigger 2: one far-future event (user 9) drags the watermark
      // (1 h delay) past every session's 30-min-gap timeout
      mem.addData(Event(99, ts(300), 9, "a", 1.0))
      q.processAllAvailable()
      // trigger 3: further still, so user 9's own first session times
      // out too and every pending timeout has provably fired
      mem.addData(Event(100, ts(600), 9, "a", 1.0))
      q.processAllAvailable()
      val closed = spark.table("mem_sess_3trig")
        .select($"user_id", $"n_events", $"total_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert((1 to 5).forall(u => closed.contains((u.toLong, 2L, 3.0))),
        s"users 1-5 must each close one 2-event session: $closed")
      assert(closed.exists(_._1 == 9L), "user 9's first session must have timed out")
      // EVICTION: users 1-5 and user 9's first session are out of the
      // store; at most user 9's open second session remains
      assert(lastStateRows(q) <= 1L,
        s"closed sessions must leave the state store, got ${lastStateRows(q)} rows")
    } finally q.stop()
  }

  test("MemoryStream dedup across 3 triggers: within-watermark replays drop, " +
      "state is evicted once the watermark passes, post-eviction replay survives") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupStream(mem.toDF()).writeStream
      .format("memory").queryName("mem_dedup_3trig")
      .outputMode(OutputMode.Append()).start()
    try {
      val originals = (0 until 30).map(i => Event(i.toLong, ts(i % 5), i % 3, "c", 1.0))
      mem.addData(originals: _*)
      q.processAllAvailable()
      assert(lastStateRows(q) === 30L, "one state row per distinct id inside the watermark")
      // trigger 2: replays of 10 ids still inside the watermark — all drop
      mem.addData(originals.take(10).map(e =>
        e.copy(ts = new Timestamp(e.ts.getTime + 60000L))): _*)
      q.processAllAvailable()
      assert(spark.table("mem_dedup_3trig").count() === 30L,
        "within-watermark replays must be suppressed")
      // trigger 3: event time jumps 10 h — watermark (1 h delay) passes
      // every stored id, so the store evicts them
      mem.addData(Event(1000L, ts(600), 0, "c", 1.0))
      q.processAllAvailable()
      assert(lastStateRows(q) <= 1L,
        s"ids behind the watermark must be evicted, got ${lastStateRows(q)} rows")
      // a replay of an EVICTED id is indistinguishable from new data —
      // that is dropDuplicatesWithinWatermark's documented contract (the
      // state bound is bought with watermark-scoped dedup, exactly why
      // e13's batch twin uses min-ts semantics over the full replay log)
      mem.addData(Event(0L, ts(601), 0, "c", 1.0))
      q.processAllAvailable()
      assert(spark.table("mem_dedup_3trig").where($"event_id" === 0L).count() === 2L,
        "post-eviction replay passes through: state is bounded by the watermark")
    } finally q.stop()
  }

  test("e15 artifact-served fold equals the text-derived fold on the driver corpus") {
    import graft.operators.Dedup
    // the CORRECTNESS-row wrapper probes the persisted index artifacts
    // (the stream's economics); the generic fold re-derives every
    // existing side from text — verdicts must be identical
    def asSet(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"verdict", $"match_id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val served = asSet(Dedup.e15StreamDedup(spark, sf))
    val generic = asSet(Dedup.streamDedupFold(Tables.load(spark, sf, "documents")))
    assert(served === generic)
  }
}
