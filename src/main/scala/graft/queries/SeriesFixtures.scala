package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Landing, Tables}
import graft.streaming.EventStream

/** The event and time-series inputs the series-tier queries share:
  * each landed stream source is written once per dataset and read
  * through one typed reader, and each series stage is derived once for
  * Spark and once as DuckDB CTEs, so a query's plan and its oracle
  * read the same series.
  */
private[queries] object SeriesFixtures {

  // ---------------------------------------------------------------
  // landed stream sources
  // ---------------------------------------------------------------

  /** The events with a timestamp, landed as µs parquet (the streamable
    * form of the ns-timestamp fixture), as a full-schema stream. */
  def eventStream(s: SparkSession, d: String): DataFrame =
    EventStream.readEvents(s, Landing.dir(s, d, "graft_stream_events") { t =>
      Tables.events(s, d).filter(col("ts").isNotNull)
        .write.mode("overwrite").parquet(t)
    }, format = "parquet")

  /** Second-truncated (event_id, ts, user_id) rows of the events with a
    * timestamp — second-truncated as in [[sessionIslands]]. */
  private def eventRows(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("ts").isNotNull)
      .select(col("event_id"), date_trunc("second", col("ts")).as("ts"),
        col("user_id"))

  /** [[eventRows]] in ONE file, so a bounded run is exactly one data
    * micro-batch followed by the no-data batch that fires event-time
    * timeouts at the final watermark. Read by the sessionizers and the
    * transformWithState counter. */
  def sessionStream(s: SparkSession, d: String): Dataset[EventStream.Event] =
    EventStream.readEventRows(s, Landing.dir(s, d, "graft_stream_sess") { t =>
      eventRows(s, d).coalesce(1).write.mode("overwrite").parquet(t)
    })

  /** The click and the view rows of [[eventRows]], one file each, as
    * two streams (clicks, views). */
  def clickViewStreams(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val base = Landing.dir(s, d, "graft_stream_join") { t =>
      val ev = Tables.events(s, d).filter(col("ts").isNotNull)
        .select(col("event_id"), date_trunc("second", col("ts")).as("ts"),
          col("user_id"), col("event_type"))
      ev.filter(col("event_type") === "click").drop("event_type")
        .coalesce(1).write.mode("overwrite").parquet(t + "/clicks")
      ev.filter(col("event_type") === "view").drop("event_type")
        .coalesce(1).write.mode("overwrite").parquet(t + "/views")
    }
    (EventStream.readEventRows(s, base + "/clicks").toDF(),
      EventStream.readEventRows(s, base + "/views").toDF())
  }

  /** [[eventRows]] planted with a full copy of itself in a second file:
    * read one file per micro-batch, every duplicate arrives in a later
    * batch than its original. */
  def duplicatedEventStream(s: SparkSession, d: String): DataFrame =
    EventStream.readEventRows(s, Landing.dir(s, d, "graft_stream_dedup") { t =>
      val ev = eventRows(s, d)
      ev.coalesce(1).write.mode("overwrite").parquet(t)
      ev.coalesce(1).write.mode("append").parquet(t) // planted duplicates
    }).toDF()

  /** Typed events in two files split by event_id parity, so a bounded
    * run is two data micro-batches. */
  def typedEventStream(s: SparkSession, d: String): Dataset[EventStream.TypedEvent] =
    EventStream.readTypedEvents(s, Landing.dir(s, d, "graft_stream_toptype") { t =>
      val ev = Tables.events(s, d)
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .select(col("event_id"), date_trunc("second", col("ts")).as("ts"),
          col("user_id"), col("event_type"))
      ev.filter(col("event_id") % 2 === 0)
        .coalesce(1).write.mode("overwrite").parquet(t)
      ev.filter(col("event_id") % 2 === 1)
        .coalesce(1).write.mode("append").parquet(t)
    })

  // ---------------------------------------------------------------
  // sessionization
  // ---------------------------------------------------------------

  /** 30-minute-gap sessions per user as gaps-and-islands:
    * (user_id, event_id, ts_s, session_id), ts second-truncated so
    * ns-vs-µs parquet precision cannot perturb the compare. A row opens
    * a session when it is the user's first or lies STRICTLY more than
    * 1800 s after the previous one. */
  def sessionIslands(s: SparkSession, d: String): DataFrame = {
    // Total order (ts_s, event_id): same-second ties would otherwise
    // make LAG/running-sum nondeterministic across engines.
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
    val gap = col("ts_s").cast("double") - lag(col("ts_s"), 1).over(w).cast("double")
    val isNew = when(gap.isNull || gap > 1800.0, 1L).otherwise(0L)
    // ts IS NOT NULL pinned on both sides: Spark windows order NULLS
    // FIRST, DuckDB NULLS LAST — NULL timestamps would renumber every
    // session in the partition differently across engines.
    Tables.events(s, d)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), date_trunc("second", col("ts")).as("ts_s"))
      .withColumn("session_id",
        sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** CTEs `e (user_id, event_id, ts_s)`, `flagged` and
    * `sessions (user_id, ts_s, session_id)`: [[sessionIslands]]. */
  val sessionIslandsSql: String =
    """e AS (
      SELECT user_id, event_id, date_trunc('second', ts) AS ts_s
      FROM events WHERE ts IS NOT NULL),
    flagged AS (
      SELECT user_id, event_id, ts_s,
        CASE WHEN LAG(ts_s) OVER w IS NULL
               OR epoch(ts_s) - epoch(LAG(ts_s) OVER w) > 1800.0
             THEN 1 ELSE 0 END AS is_new
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
    sessions AS (
      SELECT user_id, ts_s,
        CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged)"""

  /** The oracle of the streaming sessionizers run over [[sessionStream]]
    * ([[EventStream.sessionize]], [[EventStream.sessionizeTws]]):
    * (user_id, n_events, session_start, session_end) per emitted
    * session. Emission rule: a session closed by a later same-user
    * event always emits; the user's LAST session emits iff its timeout
    * timestamp passed the final watermark strictly —
    * end + gap < max(ts) over the whole input (Spark times out state
    * when timeoutTimestamp < watermark). */
  val streamSessionsSql: String =
    s"""WITH $sessionIslandsSql,
    agg AS (
      SELECT user_id, session_id, count(*) AS n_events,
        min(ts_s) AS session_start, max(ts_s) AS session_end
      FROM sessions GROUP BY 1, 2),
    ranked AS (
      SELECT *, max(session_id) OVER (PARTITION BY user_id) AS last_sid
      FROM agg),
    mx AS (SELECT max(ts_s) AS max_ts FROM e)
    SELECT user_id, n_events, session_start, session_end
    FROM ranked, mx
    WHERE session_id < last_sid
       OR epoch(session_end) + 1800.0 < epoch(max_ts)"""

  // ---------------------------------------------------------------
  // calendar series
  // ---------------------------------------------------------------

  /** Order counts per (priority, ym), ym the `yyyymm` month key:
    * (priority, ym, n). Bounded by the calendar, not by rows. */
  def monthlyOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate").isNotNull)
      .select(col("o_orderpriority").as("priority"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("int").as("ym"))
      .groupBy(col("priority"), col("ym"))
      .agg(count(lit(1)).as("n"))

  /** CTE `series (priority, ym, n)`: [[monthlyOrders]]. */
  val monthlyOrdersSql: String =
    """series AS (
        SELECT o_orderpriority AS priority,
          CAST(year(CAST(o_orderdate AS DATE)) * 100
            + month(CAST(o_orderdate AS DATE)) AS INTEGER) AS ym,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1, 2)"""

  /** Daily event counts, the series [[graft.ops.Stats.stlDecompose]]
    * takes: (day, y, dow), dow from epoch-day mod 7 (neither engine's
    * locale-dependent dayofweek). */
  def dailyEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("dow", expr(
        "CAST(datediff(day, DATE '1970-01-01') % 7 AS INT)"))

  /** CTE `daily (day, y, dow)`: [[dailyEvents]]. */
  val dailyEventsSql: String =
    """daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y,
          CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS INTEGER) AS dow
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 3)"""
}
