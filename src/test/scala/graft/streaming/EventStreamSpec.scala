package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streaming dedup suppresses redelivered events across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val events = input.toDF().toDF("event_id", "ts", "user_id")
    val q = EventStream.dedupEvents(events).writeStream
      .format("memory")
      .queryName("dedup_test")
      .outputMode("append")
      .start()
    def ts(minute: Int) = new java.sql.Timestamp(1704067200000L + minute * 60000L)
    input.addData((1L, ts(0), 1L), (1L, ts(0), 1L), (2L, ts(1), 2L))
    q.processAllAvailable()
    // event 1 redelivered in a LATER micro-batch — state must remember it
    input.addData((1L, ts(2), 1L), (3L, ts(3), 3L))
    q.processAllAvailable()
    val got = spark.table("dedup_test").select("event_id")
      .as[Long].collect().toSeq.sorted
    assert(got == Seq(1L, 2L, 3L))
    q.stop()
  }

  test("stream-stream interval join pairs clicks with in-horizon views only") {
    implicit val sqlCtx = spark.sqlContext
    def ts(minute: Int) = new java.sql.Timestamp(1704067200000L + minute * 60000L)
    val clickIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val viewIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = EventStream.clickViewJoin(
      clickIn.toDF().toDF("event_id", "ts", "user_id"),
      viewIn.toDF().toDF("event_id", "ts", "user_id"))
    val q = joined.writeStream.format("memory")
      .queryName("ssjoin_test").outputMode("append").start()
    // user 1: view at t=0 and t=8 within 10 min of click at t=9;
    // view at t=30 would pair with nothing; user 2's view never joins user 1
    viewIn.addData((10L, ts(0), 1L), (11L, ts(8), 1L), (12L, ts(5), 2L))
    clickIn.addData((1L, ts(9), 1L))
    q.processAllAvailable()
    // a later view arriving before a later click still joins (both buffered)
    viewIn.addData((13L, ts(30), 1L))
    clickIn.addData((2L, ts(31), 1L))
    q.processAllAvailable()
    val got = spark.table("ssjoin_test")
      .select($"click_id", $"view_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (1L, 11L), (2L, 13L)))
    q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val sessions = EventStream.sessionize(spark, input.toDS())
    val q = sessions.writeStream
      .format("memory")
      .queryName("sessions_test")
      .outputMode("append")
      .start()
    def ts(minute: Int) = new java.sql.Timestamp(1704067200000L + minute * 60000L)
    // user 1: two events 5 min apart (one session), then a 40-min gap
    // opens a NEW session -> the first one is emitted as closed
    input.addData(
      EventStream.Event(1, ts(0), 1),
      EventStream.Event(2, ts(5), 1))
    q.processAllAvailable()
    input.addData(EventStream.Event(3, ts(45), 1))
    q.processAllAvailable()
    val closed = spark.table("sessions_test")
      .as[EventStream.Session].collect()
    assert(closed.length == 1)
    assert(closed.head.user_id == 1 && closed.head.n_events == 2)
    assert(closed.head.start_ms == ts(0).getTime && closed.head.end_ms == ts(5).getTime)
    q.stop()
  }

  test("transformWithState running counts accumulate ValueState across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    EventStream.withRocksDbState(spark) {
      val input = MemoryStream[EventStream.Event]
      val q = EventStream.runningUserCounts(spark, input.toDS())
        .writeStream.format("memory").queryName("tws_counts_test")
        .outputMode("update")
        .start()
      def ts(minute: Int) = new java.sql.Timestamp(1704067200000L + minute * 60000L)
      // batch 0: user 1 twice, user 2 once
      input.addData(
        EventStream.Event(1, ts(0), 1),
        EventStream.Event(2, ts(1), 1),
        EventStream.Event(3, ts(2), 2))
      q.processAllAvailable()
      // batch 1: user 1 again — the ValueState must carry the prior 2
      input.addData(EventStream.Event(4, ts(3), 1))
      q.processAllAvailable()
      val got = spark.table("tws_counts_test")
        .as[EventStream.UserCount].collect().toSet
      assert(got == Set(
        EventStream.UserCount(1, 2), EventStream.UserCount(2, 1),
        EventStream.UserCount(1, 3)))
      q.stop()
    }
  }

  test("transformWithState MapState merges per-type counts across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    EventStream.withRocksDbState(spark) {
      val input = MemoryStream[EventStream.TypedEvent]
      val q = EventStream.topTypePerUser(spark, input.toDS())
        .writeStream.format("memory").queryName("tws_toptype_test")
        .outputMode("update")
        .start()
      def ts(minute: Int) = new java.sql.Timestamp(1704067200000L + minute * 60000L)
      // batch 0: user 1 -> b,b,a : top is b(2)
      input.addData(
        EventStream.TypedEvent(1, ts(0), 1, "b"),
        EventStream.TypedEvent(2, ts(1), 1, "b"),
        EventStream.TypedEvent(3, ts(2), 1, "a"))
      q.processAllAvailable()
      // batch 1: two more a's — the MAP must carry b's 2 and a's 1, so
      // the argmax flips to a(3); a fresh-state batch would report a(2)
      input.addData(
        EventStream.TypedEvent(4, ts(3), 1, "a"),
        EventStream.TypedEvent(5, ts(4), 1, "a"))
      q.processAllAvailable()
      val got = spark.table("tws_toptype_test")
        .as[EventStream.UserTypeTop].collect().toSet
      assert(got == Set(
        EventStream.UserTypeTop(1, 3, 2, "b", 2),
        EventStream.UserTypeTop(1, 5, 2, "a", 3)))
      q.stop()
    }
  }

  test("transformWithState ListState keeps the order-free last-3 across batches") {
    implicit val sqlCtx = spark.sqlContext
    EventStream.withRocksDbState(spark) {
      val input = MemoryStream[EventStream.TypedEvent]
      val q = EventStream.recentEventsPerUser(spark, input.toDS())
        .writeStream.format("memory").queryName("tws_recent_test")
        .outputMode("update")
        .start()
      def ts(minute: Int) = new java.sql.Timestamp(1704067200000L + minute * 60000L)
      def ms(minute: Int) = 1704067200000L + minute * 60000L
      // batch 0: events at minutes 5, 1, 9 (unsorted arrival)
      input.addData(
        EventStream.TypedEvent(50, ts(5), 1, "a"),
        EventStream.TypedEvent(10, ts(1), 1, "a"),
        EventStream.TypedEvent(90, ts(9), 1, "a"))
      q.processAllAvailable()
      // batch 1: minute 7 — must displace minute 1 from the carried list
      input.addData(EventStream.TypedEvent(70, ts(7), 1, "a"))
      q.processAllAvailable()
      val got = spark.table("tws_recent_test")
        .as[EventStream.UserRecent].collect().toSet
      assert(got == Set(
        EventStream.UserRecent(1, 3, 3, s"90@${ms(9)},50@${ms(5)},10@${ms(1)}"),
        EventStream.UserRecent(1, 4, 3, s"90@${ms(9)},70@${ms(7)},50@${ms(5)}")))
      q.stop()
    }
  }

  test("sessionizeTws (event-time timers) equals fMGWS sessionize row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    EventStream.withRocksDbState(spark) {
      def ts(minute: Int) = new java.sql.Timestamp(1704067200000L + minute * 60000L)
      // user 1: two sessions split by a 31-min gap; the second session is
      // left OPEN at the horizon and must be flushed by the final
      // watermark timer. user 2: one closed session.
      // batch 0 holds the early events of BOTH users (nothing in batch 1
      // is behind the batch-0 watermark — late-row policy must not differ
      // between the two APIs for this equality to be meaningful)
      val events = Seq(
        EventStream.Event(1, ts(0), 1), EventStream.Event(2, ts(10), 1),
        EventStream.Event(4, ts(0), 2), EventStream.Event(5, ts(5), 2),
        EventStream.Event(3, ts(41), 1),
        EventStream.Event(6, ts(90), 2)) // advances the watermark horizon
      def run(f: (org.apache.spark.sql.SparkSession,
                  org.apache.spark.sql.Dataset[EventStream.Event]) =>
                org.apache.spark.sql.Dataset[EventStream.Session],
              name: String) = {
        val input = MemoryStream[EventStream.Event]
        val q = f(spark, input.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        input.addData(events.take(4))
        q.processAllAvailable()
        input.addData(events.drop(4))
        q.processAllAvailable()
        q.stop()
        spark.table(name).as[EventStream.Session].collect().toSet
      }
      val viaTimers = run(EventStream.sessionizeTws(_, _), "tws_sess_test")
      val viaFmgws = run(EventStream.sessionize(_, _), "fmgws_sess_test")
      assert(viaTimers == viaFmgws)
      // and the planted structure is what both produced: user 1's open
      // 1-event session is flushed by the final watermark (41+30 < 90),
      // user 2's minute-90 session is not (90+30 > 90)
      assert(viaTimers.map(s => (s.user_id, s.n_events)) ==
        Set((1L, 2L), (1L, 1L), (2L, 2L)))
    }
  }

  test("cdcLatest picks the batch-order-independent winner across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // (k, name, bal, seq, op)
    val input = MemoryStream[(Long, String, Double, Long, String)]
    val changes = input.toDF().toDF("k", "name", "bal", "seq", "op")
    val q = EventStream.cdcLatest(changes, Seq("k"), "seq", "op").writeStream
      .format("memory").queryName("cdc_latest_test")
      .outputMode("complete").start()
    // batch 1: k=1 updated, k=2 inserted, k=3 same-seq I+D tie
    input.addData((1L, "a", 10.0, 2L, "U"), (2L, "b", 5.0, 1L, "I"),
      (3L, "c1", 1.0, 4L, "I"), (3L, "c2", 1.0, 4L, "D"))
    q.processAllAvailable()
    // batch 2: k=1 LATER delete arrives in a different batch; k=2 older
    // duplicate redelivered (must lose to the seq-1 original on tiebreak)
    input.addData((1L, "a", 10.0, 3L, "D"), (2L, "b-old", 4.0, 0L, "U"))
    q.processAllAvailable()
    val got = spark.table("cdc_latest_test")
      .select($"k", $"op", $"seq", $"name")
      .as[(Long, String, Long, String)].collect().toSet
    q.stop()
    assert(got == Set(
      (1L, "D", 3L, "a"),    // cross-batch: the later delete wins
      (2L, "I", 1L, "b"),    // higher seq wins over the redelivered 0
      (3L, "D", 4L, "c2"))) // same-seq tie: op asc => D beats I
  }

  test("statePartitionsForRate applies the measured sizing table") {
    // README §streaming round-9 sweep, under a production-like session
    // default (32): 10k rows/s -> 8 partitions (the point where the
    // stream-stream join first holds a 1 s trigger); low rates clamp
    // at 4; high rates take the session's cluster-sized parallelism
    EventStream.withStatePartitions(spark, 32) {
      assert(EventStream.statePartitionsForRate(spark, 10000) == 8)
      assert(EventStream.statePartitionsForRate(spark, 1000) == 4)
      assert(EventStream.statePartitionsForRate(spark, 20000) == 16)
      assert(EventStream.statePartitionsForRate(spark, 1000000) == 32)
    }
    // and the clamp follows the session: this 4-partition test session
    // never over-shards a low-rate stream's state
    assert(EventStream.statePartitionsForRate(spark, 1000000) ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  /** Runs the stream-stream join over two bounded MemoryStreams, started
    * under a production-like session default of `sessionParts` with its
    * state layout sized for `rowsPerSec`. Feeds `batches` drops of
    * `rows` clicks and `rows` views, drains each with
    * processAllAvailable(), and returns the non-empty progress. The
    * layout is structural, so nothing here depends on the wall clock;
    * latency and keep-up at these rates are what `tools.StreamLatency`
    * measures. */
  private def sizedJoinProgress(sessionParts: Int, rowsPerSec: Long,
      batches: Int, rows: Int) = {
    implicit val sqlCtx = spark.sqlContext
    val clickIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val viewIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q = EventStream.withStatePartitions(spark, sessionParts) {
      EventStream.withStatePartitions(spark,
          EventStream.statePartitionsForRate(spark, rowsPerSec)) {
        EventStream.clickViewJoin(
            clickIn.toDF().toDF("event_id", "ts", "user_id"),
            viewIn.toDF().toDF("event_id", "ts", "user_id"),
            horizon = "10 minutes", delay = "10 minutes")
          .writeStream.format("noop").outputMode("append").start()
      }
    }
    try {
      (0 until batches).foreach { b =>
        def drop(idOffset: Long) = (0 until rows).map { i =>
          val id = b.toLong * rows + i
          (id + idOffset, new java.sql.Timestamp(1704067200000L + id * 1000L),
            id % 1000)
        }
        clickIn.addData(drop(0L))
        viewIn.addData(drop(1000000000L))
        q.processAllAvailable()
      }
      q.recentProgress.filter(_.numInputRows > 0)
    } finally q.stop()
  }

  test("statePartitionsForRate shards a 10k rows/s join state 8 ways") {
    // the outer 32 is the session default the rate sizing overrides;
    // 10k rows/s sizes the join's state layout down to 8
    val progress = sizedJoinProgress(32, 10000, batches = 2, rows = 500)
    assert(progress.map(_.numInputRows).sum == 2000L)
    assert(progress.last.stateOperators.head.numShufflePartitions == 8L,
      "state layout must use the rate-sized partition count")
  }

  test("statePartitionsForRate at 100k rows/s takes full session parallelism end-to-end") {
    // the other end of the sizing rule: a high-rate stream must NOT
    // size down — 100k rows/s wants ceil(100k/1250)=80 -> pow2 128 ->
    // clamped to the session's 32, and that count is baked into the
    // state stores
    EventStream.withStatePartitions(spark, 32) {
      assert(EventStream.statePartitionsForRate(spark, 100000) == 32)
    }
    val progress = sizedJoinProgress(32, 100000, batches = 2, rows = 500)
    assert(progress.map(_.numInputRows).sum == 2000L)
    assert(progress.last.stateOperators.head.numShufflePartitions == 32L,
      "high-rate state layout must take the session's full parallelism")
  }

  test("drain runs a bounded stream in each output mode and leaves no sink view") {
    val dir = tempDir("drain_stream")
    Seq(
      """{"event_id":1,"ts":"2024-01-01T00:10:00.000Z","user_id":1,"event_type":"click","value":1.0,"props":"{}"}""",
      """{"event_id":2,"ts":"2024-01-01T00:20:00.000Z","user_id":2,"event_type":"click","value":1.0,"props":"{}"}""",
      """{"event_id":2,"ts":"2024-01-01T00:20:00.000Z","user_id":2,"event_type":"click","value":1.0,"props":"{}"}""",
      """{"event_id":3,"ts":"2024-01-01T01:05:00.000Z","user_id":1,"event_type":"view","value":1.0,"props":"{}"}"""
    ).zipWithIndex.foreach { case (line, i) =>
      Files.write(dir.resolve(s"drop$i.json"), line.getBytes("UTF-8"))
    }
    val statePartitions = scala.collection.mutable.ArrayBuffer.empty[Long]
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        statePartitions.synchronized {
          statePartitions ++= e.progress.stateOperators.map(_.numShufflePartitions)
        }
    }
    def events = EventStream.readEvents(spark, dir.toString)
    def byType = events.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    spark.streams.addListener(listener)
    try {
      // a session default of 8, so the 4 below can only come from drain
      val (appended, completed, updated) =
        EventStream.withStatePartitions(spark, 8) {
          val out = (
            EventStream.drain(spark, "drain_append", "append")(
              EventStream.dedupEvents(events)),
            EventStream.drain(spark, "drain_complete", "complete")(byType),
            EventStream.drain(spark, "drain_update", "update")(byType))
          assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
          out
        }
      assert(appended.select("event_id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
      // the aggregations see the redelivered event 2 as well
      val counts = Set(("click", 3L), ("view", 1L))
      assert(completed.as[(String, Long)].collect().toSet == counts)
      // update mode emits each key once here: one batch holds all files
      assert(updated.as[(String, Long)].collect().toSet == counts)
      // frames derived after the view is gone still read the sink's rows
      assert(completed.filter(col("event_type") === "view").count() == 1L)

      assert(spark.catalog.listTables().collect()
        .forall(t => !t.name.endsWith("_sink")))
      assert(!spark.catalog.tableExists("drain_complete_sink"))
      assert(spark.streams.active.isEmpty)
      org.apache.spark.graft.ListenerBusBridge.drain(spark.sparkContext)
      assert(statePartitions.nonEmpty && statePartitions.forall(_ == 4L),
        statePartitions.toString)
    } finally spark.streams.removeListener(listener)
  }
}
