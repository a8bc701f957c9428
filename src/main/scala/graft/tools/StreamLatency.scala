package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.LocalSession
import graft.streaming.EventStream

/** Live micro-batch characterization for the streaming tier: the
  * registry parity rows prove the streaming operators batch-equivalent
  * under AvailableNow; this tool measures the live regime — sustained
  * throughput, p50/p95 trigger-execution latency and the keep-up ratio
  * (processed / input rows per second, median over warm batches; < 1
  * means the query falls behind its feed) at a fixed input rate from
  * the `rate` source — for the two stateful paths a deployment watches:
  *
  *   - sessionize: flatMapGroupsWithState event-time-gap sessions
  *     (per-user state store, event-time timeout)
  *   - stream-stream join: clickViewJoin's time-interval join
  *     (watermarked state both sides)
  *
  * Usage: StreamLatency [rowsPerSec] [seconds] [triggerSec] [stateParts];
  * `stateParts` defaults to `EventStream.statePartitionsForRate` of the
  * rate. Prints one summary line per path. Numbers depend on the host,
  * so they are recorded, never asserted. The two points of the rule:
  *   `StreamLatency 10000 15 1 8`  — the rate-sized join under a 1 s trigger
  *   `StreamLatency 100000 60 6 32` — a high-rate join at full width
  */
object StreamLatency {
  def main(args: Array[String]): Unit = {
    val rate = args.headOption.map(_.toInt).getOrElse(50000)
    val runSec = args.lift(1).map(_.toInt).getOrElse(45)
    val trigSec = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = LocalSession()
    // state-store partition count: a streaming query bakes
    // spark.sql.shuffle.partitions into its state layout at first
    // start, and every stateful operator commits one state store per
    // partition per batch — at low rates that commit fan-out IS the
    // per-batch floor, so sizing it down is the lever this tool measures;
    // without an explicit count, the rate-sized rule picks it
    val stateParts = args.lift(3).map(_.toInt)
      .getOrElse(EventStream.statePartitionsForRate(spark, rate))
    spark.conf.set("spark.sql.streaming.checkpointLocation",
      java.nio.file.Files.createTempDirectory("graft_latency").toString)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    final case class Batch(rows: Long, trigMs: Long, procRps: Double,
        inRps: Double, startMs: Long)
    val batches = new ConcurrentLinkedQueue[Batch]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0)
          batches.add(Batch(p.numInputRows,
            p.durationMs.getOrDefault("triggerExecution", 0L),
            p.processedRowsPerSecond, p.inputRowsPerSecond,
            java.time.Instant.parse(p.timestamp).toEpochMilli))
      }
    })

    def characterize(label: String)(
        start: () => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      batches.clear()
      val q = EventStream.withStatePartitions(spark, stateParts)(start())
      Thread.sleep(runSec * 1000L)
      // stop() interrupts any in-flight micro-batch; the resulting
      // CANNOT_COMMIT noise is teardown, not measurement — swallow it
      try { q.stop(); q.awaitTermination() }
      catch { case _: Throwable => () }
      import scala.jdk.CollectionConverters._
      val all = batches.asScala.toVector
      // drop the first two batches: source ramp + state-store open
      val warm = all.drop(2)
      // also covers short runSec / long triggers: < 3 non-empty batches
      // leaves no warm window — skip the summary instead of indexing it
      if (warm.isEmpty) {
        println(s"$label: insufficient batches " +
          s"(${all.size} non-empty; need >= 3) — lengthen runSec")
        return
      }
      def pct[A](sorted: Vector[A], p: Double): A = sorted(math.min(
        sorted.size - 1, math.ceil(p * sorted.size).toInt - 1).max(0))
      val lat = warm.map(_.trigMs).sorted
      val keepUp = pct(warm.map(b => b.procRps / math.max(1e-9, b.inRps)).sorted, 0.5)
      val rows = warm.map(_.rows).sum
      val span = warm.map(_.trigMs).sum / 1000.0
      // warm window measured from the warm batches themselves (first
      // batch start -> last batch end), not runSec - 2: the 2 dropped
      // warmup batches span ~2*trigSec, which skews sustained/busy for
      // triggers > 1 s if assumed to be 2 s.
      val warmSec = math.max(
        (warm.last.startMs + warm.last.trigMs - warm.head.startMs) / 1000.0,
        0.001)
      println(f"$label%-14s parts=$stateParts%d rate=$rate%d rows/s  batches=${warm.size}%d  " +
        f"rows=$rows%d  sustained=${rows / warmSec}%.0f rows/s  " +
        f"p50=${pct(lat, 0.5)}%d ms  p95=${pct(lat, 0.95)}%d ms  " +
        f"keepup=$keepUp%.2f  busy=${span / warmSec * 100}%.0f%%")
    }

    // rate source -> Event: user from a 10k-user cycle, event time =
    // source timestamp (monotonic, so the 0s watermark advances)
    def events = spark.readStream.format("rate")
      .option("rowsPerSecond", rate).load()
      .select(col("value").as("event_id"), col("timestamp").as("ts"),
        (col("value") % 10000).as("user_id"))

    characterize("sessionize") { () =>
      EventStream.sessionize(spark, events.as[EventStream.Event])
        .writeStream.format("noop")
        .trigger(Trigger.ProcessingTime(s"$trigSec second"))
        .outputMode("append").start()
    }

    characterize("stream-join") { () =>
      val clicks = spark.readStream.format("rate")
        .option("rowsPerSecond", rate / 2).load()
        .select(col("value").as("event_id"), col("timestamp").as("ts"),
          (col("value") % 10000).as("user_id"))
      val views = spark.readStream.format("rate")
        .option("rowsPerSecond", rate / 2).load()
        .select((col("value") + 1000000000L).as("event_id"),
          col("timestamp").as("ts"), (col("value") % 10000).as("user_id"))
      EventStream.clickViewJoin(clicks, views,
          horizon = "10 minutes", delay = "10 minutes")
        .writeStream.format("noop")
        .trigger(Trigger.ProcessingTime(s"$trigSec second"))
        .outputMode("append").start()
    }

    spark.stop()
    System.exit(0) // teardown noise from interrupted batches is not a failure
  }
}
