package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.core.Confs

/** Structured Streaming surface — the extension tier beyond the
  * reference's batch-only cadence (SURVEY §2.10: its "incremental" load
  * is ALTER EXTERNAL TABLE REFRESH + full recompute; populate.py:65–68).
  *
  * Two streaming restatements of the events workload:
  *  - [[chainedDailyRollup]]: watermarked tumbling-window aggregation
  *    (hourly windows re-windowed into days) — late data beyond the
  *    watermark is dropped instead of recomputing the layer.
  *  - [[sessionize]]: explicit session state via flatMapGroupsWithState
  *    with processing-time timeouts — the streaming twin of the batch
  *    window-function sessionization.
  *
  * `Trigger.AvailableNow` + a file source reproduces the reference's
  * REFRESH semantics incrementally: each run picks up exactly the new
  * files, then stops — but without recomputing history.
  *
  * Scale posture: state is keyed by (window|user), so it partitions
  * across executors; watermarks bound state size; no driver collects.
  */
object EventStream {

  /** Runs `f` (start a streaming query + await it) with
    * `spark.sql.shuffle.partitions` pinned to `n`, restoring the
    * session value after. Stateful streaming operators instantiate
    * one state store PER shuffle partition PER stateful operator
    * (a stream-stream join runs four), and every micro-batch pays a
    * per-store floor (provider init, commit, snapshot bookkeeping) —
    * so state partitioning must be sized to the stream's volume, not
    * inherited from the batch default. At 100 TB this knob turns UP
    * (state sharded across executors); on the parity fixtures it
    * turns DOWN (32 partitions of a 60k-row fixture is pure floor —
    * measured 3x on the stream-stream join). Batch plans are
    * unaffected: the conf is restored before any sink read. */
  def withStatePartitions[T](spark: SparkSession, n: Int)(f: => T): T =
    Confs.withConf(spark, "spark.sql.shuffle.partitions", n.toString)(f)

  /** The measured sizing rule (README §streaming, round-9
    * `StreamLatency` sweep) as code: state partitions follow the
    * stream's per-second ROW volume, not the core count — the
    * per-batch floor is the state-store commit fan-out (stores ×
    * partitions), which scales ~linearly with partitions, while
    * throughput per partition holds ~1.25k rows/s comfortably at the
    * measured points (8 partitions sustain a 10k rows/s stream-stream
    * join under a 1 s trigger; 32 partitions push the same join's
    * floor to ~5 s). Rounds UP to a power of two (the sweep's grid),
    * clamped to [4, session shuffle partitions] — the upper clamp is
    * the 100 TB posture: a high-rate stream takes the session's
    * cluster-sized parallelism, only LOW-rate streams size down. */
  def statePartitionsForRate(spark: SparkSession, rowsPerSec: Long): Int = {
    require(rowsPerSec > 0, s"rowsPerSec must be positive, got $rowsPerSec")
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val wanted = math.ceil(rowsPerSec / 1250.0)
    val pow2 = Iterator.iterate(4L)(_ * 2).find(_ >= wanted).get
    math.max(4, math.min(sessionParts.toLong, pow2)).toInt
  }

  /** Runs `f` (start a streaming query + await it) with the RocksDB
    * state-store provider, which the transformWithState operators
    * require; the session's provider is restored after, so other
    * stateful queries keep their default. */
  def withRocksDbState[T](spark: SparkSession)(f: => T): T =
    Confs.withConf(spark, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(f)

  /** The one bounded run of a streaming frame: every file already in
    * the source goes through `df` under `Trigger.AvailableNow` into a
    * memory sink, with 4 state partitions (the parity fixtures' size,
    * see [[withStatePartitions]]), and the sink's rows come back as a
    * batch frame. The sink's temp view is dropped once that frame is
    * analysed — the frame keeps the rows, the session does not. */
  def drain(spark: SparkSession, name: String, outputMode: String)(
      df: Dataset[_]): DataFrame = {
    val sink = s"${name}_sink"
    withStatePartitions(spark, 4) {
      df.writeStream.format("memory").queryName(sink)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    val out = spark.table(sink)
    spark.catalog.dropTempView(sink)
    out
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of event files (json or parquet
    * written with microsecond timestamps). */
  def readEvents(spark: SparkSession, dir: String, format: String = "json"): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .format(format)
      .option("maxFilesPerTrigger", "16") // bounded micro-batches on backfill
      .load(dir)

  /** File-source stream of [[Event]] rows over a directory of parquet
    * files, one file per micro-batch. */
  def readEventRows(spark: SparkSession, dir: String): Dataset[Event] = {
    import spark.implicits._
    spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .as[Event]
  }

  /** File-source stream of [[TypedEvent]] rows over a directory of
    * parquet files, one file per micro-batch. */
  def readTypedEvents(spark: SparkSession, dir: String): Dataset[TypedEvent] = {
    import spark.implicits._
    spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .as[TypedEvent]
  }

  /** CHAINED stateful window aggregations — two windowed aggs in ONE
    * streaming query (hourly counts re-windowed into a daily rollup),
    * the multiple-stateful-operator capability Spark gained in 3.4:
    * before it, the hourly layer had to land in a sink and a second
    * query re-read it. The time column propagates through the first
    * window (the `w1` struct carries event time), so the second
    * aggregation windows over it directly. Append mode is REQUIRED
    * for chaining (the downstream operator consumes only finalized
    * windows), so a daily window emits exactly when the watermark
    * passes its end — the last partial day is withheld, and the batch
    * oracle replays that boundary arithmetically from max(ts). */
  def chainedDailyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w1"), col("event_type"))
      .agg(count(lit(1)).as("n_hourly"))
      .groupBy(window(col("w1"), "1 day").as("w2"), col("event_type"))
      .agg(sum(col("n_hourly")).as("n_events"),
        count(lit(1)).as("n_hours"))
      .select(col("w2").getField("start").as("day_start"),
        col("event_type"), col("n_events"), col("n_hours"))

  /** Streaming exact dedup: at-least-once sources (file redelivery,
    * replayed drops) collapse to exactly-one-row-per-event downstream.
    * `dropDuplicatesWithinWatermark` keys state by `idCols` only and
    * EVICTS each key once the watermark passes the event time it was
    * first seen with + delay — so the dedup state store is bounded by
    * the watermark horizon instead of growing with all-time key
    * cardinality; the streaming counterpart of the batch
    * Dedup.collapseExact. Duplicates arriving within the watermark
    * delay are suppressed; ones later than that are late data, already
    * outside the pipeline's correctness contract. */
  def dedupEvents(events: DataFrame, delay: String = "2 hours",
                  idCols: Seq[String] = Seq("event_id")): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Streaming CDC winner fold — the Debezium-sink state table: for
    * every key, the LATEST change seen so far across all micro-batches,
    * under the same total order as the batch
    * [[graft.ops.Snapshot.cdcApply]] (`seqCol` desc, `opCol` asc
    * tiebreak — a total order when (key, seq) is unique). A streaming
    * groupBy aggregation, so the winner state is keyed by `keyCols` and
    * partitions across executors; each micro-batch folds only its delta
    * into the state store, and because max is commutative/associative
    * the result is independent of how the change log is batched — the
    * property the parity query proves by force-splitting the log one
    * file per trigger. Complete output mode re-emits the winner table.
    *
    * "op asc at equal seq" is encoded as max over `(seq, opInv)` with
    * opInv mapping D→2, I→1, U→0 (reverse alphabetical), so a same-seq
    * delete beats an insert/update exactly as the batch path's
    * `ORDER BY seq DESC, op ASC` does. */
  def cdcLatest(changes: DataFrame, keyCols: Seq[String],
                seqCol: String, opCol: String): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val payloadCols = changes.columns.filterNot(keyCols.contains).toSeq
    val opInv = when(col(opCol) === "D", 2)
      .when(col(opCol) === "I", 1).otherwise(0)
    changes.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(payloadCols.map(col): _*),
        struct(col(seqCol), opInv.as("__op_inv"))).as("__w"))
      .select(keyCols.map(col) ++
        payloadCols.map(c => col(s"__w.$c").as(c)): _*)
  }

  /** Stream-stream interval join: each click joined to the same user's
    * views from the preceding `horizon` — attribution while both sides
    * are still flowing. The three conditions Structured Streaming needs
    * to keep join state BOUNDED are all present: watermarks on both
    * inputs, a key equality, and a two-sided time-range predicate —
    * so each side's buffered state is evicted once the other side's
    * watermark passes the interval, instead of growing forever
    * (the stream-stream analog of the batch [[graft.ops.AsofJoin]];
    * inner join, so only matched pairs emit).
    *
    * Inputs must carry (user_id, ts) plus `event_id` and are typically
    * pre-filtered by event_type. Output: one row per (click, view)
    * pair within the horizon. */
  def clickViewJoin(clicks: DataFrame, views: DataFrame,
                    horizon: String = "10 minutes",
                    delay: String = "2 hours"): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id"), col("ts").as("click_ts")).withWatermark("click_ts", delay)
    val v = views.select(col("event_id").as("view_id"),
      col("user_id").as("view_user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", delay)
    c.join(v,
      col("user_id") === col("view_user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $horizon"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("view_id"), col("view_ts"))
  }

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long)
  final case class UserCount(user_id: Long, n_events: Long)

  /** Per-user LIFETIME event counter on `transformWithState` — Spark 4's
    * arbitrary-state API (SPARK-48796, the successor to
    * flatMapGroupsWithState used by [[sessionize]]): typed `ValueState`
    * obtained from the processor handle, optional TTL, RocksDB-backed
    * state store (the API requires the RocksDB provider — callers
    * start the query inside [[withRocksDbState]]). Each batch emits
    * the updated lifetime count per user seen in that batch
    * (update-mode semantics); state is keyed by user, so it partitions
    * across executors and the store scales with |users|, not |events|. */
  class RunningCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserCount] {
    @transient private var count: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      count = getHandle.getValueState[Long]("count",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserCount] = {
      val n = (if (count.exists()) count.get() else 0L) + rows.size
      count.update(n)
      Iterator.single(UserCount(key, n))
    }
  }

  def runningUserCounts(spark: SparkSession,
                        events: Dataset[Event]): Dataset[UserCount] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  final case class TypedEvent(event_id: Long, ts: java.sql.Timestamp,
                              user_id: Long, event_type: String)
  final case class UserTypeTop(user_id: Long, n_total: Long, n_types: Int,
                               top_type: String, top_cnt: Long)

  /** Per-user favorite-event-type tracker on `transformWithState`
    * MAP state — the composite-state tier of the arbitrary-state API
    * ([[RunningCountProcessor]] covers `ValueState`): a
    * `MapState[event_type → count]` per user, updated per row, scanned
    * per batch for the deterministic argmax (count desc, type asc — a
    * total order, so emissions are engine-replayable). The map is
    * keyed RANGE state in RocksDB: per-type updates touch one map entry,
    * not a serialized blob of the whole user (the reason MapState exists
    * over a ValueState[Map]), and the store scales with
    * |users × types-per-user|, not |events|. Update-mode: each batch
    * emits the refreshed summary for users seen in that batch, and
    * `n_total` strictly increases per emission, so "latest per user" is
    * selectable without a batch-id column. */
  class TopTypeProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, UserTypeTop] {
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("type_counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTypeTop] = {
      rows.foreach { e =>
        val c = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, c + 1L)
      }
      var total = 0L; var n = 0; var topT: String = null; var topC = 0L
      counts.iterator().foreach { case (t, c) =>
        total += c; n += 1
        if (c > topC || (c == topC && (topT == null || t < topT))) {
          topT = t; topC = c
        }
      }
      Iterator.single(UserTypeTop(key, total, n, topT, topC))
    }
  }

  def topTypePerUser(spark: SparkSession,
                     events: Dataset[TypedEvent]): Dataset[UserTypeTop] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TopTypeProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  final case class RecentRef(ts_ms: Long, event_id: Long)
  final case class UserRecent(user_id: Long, n_seen: Long, n_kept: Int,
                              recent: String)

  /** Per-user LAST-3 events on `transformWithState` LIST state — the
    * third member of the arbitrary-state trio (`ValueState` in
    * [[RunningCountProcessor]], `MapState` in [[TopTypeProcessor]]):
    * the activity-feed / recent-history primitive. The list holds the
    * current top-3 (ts, event_id) pairs; each batch merges its rows and
    * `put`s the re-selected top-3 back. Max-k selection is ORDER-FREE —
    * deterministic whatever order rows arrive within a batch — so
    * emissions are engine-replayable, where a naive "append and trim"
    * would depend on arrival order. State is 3 small rows per user,
    * RocksDB list-typed (append without rewriting the whole value —
    * the reason ListState exists over ValueState[Seq]). */
  class RecentEventsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, UserRecent] {
    @transient private var recent:
      org.apache.spark.sql.streaming.ListState[RecentRef] = _
    @transient private var seen:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      recent = getHandle.getListState[RecentRef]("recent",
        org.apache.spark.sql.Encoders.product[RecentRef],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      // strictly-increasing per-emission counter: "latest per user" is
      // selectable from update-mode output without a batch-id column
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserRecent] = {
      val incoming = rows.map(e => RecentRef(e.ts.getTime, e.event_id)).toSeq
      val merged = (recent.get().toSeq ++ incoming)
        .sortBy(r => (-r.ts_ms, -r.event_id)).take(3)
      recent.put(merged.toArray)
      val n = (if (seen.exists()) seen.get() else 0L) + incoming.size
      seen.update(n)
      Iterator.single(UserRecent(key, n, merged.size,
        merged.map(r => s"${r.event_id}@${r.ts_ms}").mkString(",")))
    }
  }

  def recentEventsPerUser(spark: SparkSession,
                          events: Dataset[TypedEvent]): Dataset[UserRecent] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RecentEventsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Event-time-TIMER sessionization on `transformWithState` — the last
    * piece of the arbitrary-state API surface (state trio + timers):
    * the same 30-minute-gap semantics as the fMGWS [[sessionize]], but
    * timeouts are explicit registered timers (`TimeMode.EventTime`,
    * `registerTimer`/`handleExpiredTimer`) instead of
    * `GroupStateTimeout`. Per batch: merge the key's rows in
    * deterministic (ts, event_id) order, emit sessions closed by
    * in-batch gaps, persist the open session, then RE-ARM the key's
    * single timer (delete-then-register — stale timers from earlier
    * batches must not fire on a since-extended session) at
    * max(end+gap, watermark+1), the same flush rule the fMGWS version
    * encodes. When the watermark passes the timer, the open session is
    * emitted and cleared. Output equals [[sessionize]] row-for-row —
    * spec-pinned — so the oracle can be shared. */
  class SessionizerTwsProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Session] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[SessionState] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Session] = {
      var closed = List.empty[Session]
      var cur = if (st.exists()) Some(st.get()) else None
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.end <= gapMs =>
            cur = Some(s.copy(end = t, n = s.n + 1))
          case Some(s) =>
            closed ::= Session(key, s.n, s.start, s.end)
            cur = Some(SessionState(t, t, 1))
          case None =>
            cur = Some(SessionState(t, t, 1))
        }
      }
      cur.foreach { s =>
        st.update(s)
        getHandle.listTimers().foreach(getHandle.deleteTimer(_))
        getHandle.registerTimer(
          math.max(s.end + gapMs, timerValues.getCurrentWatermarkInMs + 1))
      }
      closed.reverseIterator
    }
    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Session] =
      if (st.exists()) {
        val s = st.get(); st.clear()
        Iterator.single(Session(key, s.n, s.start, s.end))
      } else Iterator.empty
  }

  def sessionizeTws(spark: SparkSession, events: Dataset[Event],
                    gapMs: Long = 30L * 60 * 1000): Dataset[Session] = {
    import spark.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new SessionizerTwsProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  final case class SessionState(start: Long, end: Long, n: Long)
  final case class Session(user_id: Long, n_events: Long,
                           start_ms: Long, end_ms: Long)

  /** Custom session state: 30-minute-EVENT-TIME-gap sessions per user.
    * A session closes either when a later event for the same user
    * arrives past the gap (emitted in that batch), or when the WATERMARK
    * passes session_end + gap (event-time timeout) — so idle sessions
    * flush deterministically with event time, never wall clock.
    * (ProcessingTimeTimeout would make the query self-trigger empty
    * micro-batches in a busy loop — each committing the state store —
    * which is both nondeterministic and pathological.)
    *
    * The batch analog (ExtensionQueries.x_events_sessionize) computes
    * the same sessions with window functions; this version holds one
    * open session per user in the state store, keyed and partitioned by
    * user — watermark bounds state lifetime at scale. */
  def sessionize(spark: SparkSession, events: Dataset[Event],
                 gapMs: Long = 30L * 60 * 1000): Dataset[Session] = {
    import spark.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.n, s.start, s.end))
          } else {
            var closed = List.empty[Session]
            var cur = state.getOption
            rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(s.copy(end = t, n = s.n + 1))
                case Some(s) =>
                  closed ::= Session(userId, s.n, s.start, s.end)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // flush when the watermark passes the gap horizon; must
              // stay strictly above the current watermark
              state.setTimeoutTimestamp(
                math.max(s.end + gapMs, state.getCurrentWatermarkMs + 1))
            }
            closed.reverseIterator
          }
      }
  }
}
