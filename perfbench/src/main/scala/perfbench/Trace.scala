package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the program: a call into one of its public entry
  * points, or a workload cycle that groups such calls. */
final case class Span(name: String, id: Int, parent: Int, startNs: Long, endNs: Long, run: Int,
                      compiles: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Counters of one layer, summed over the jobs, stages, tasks and query
  * executions attributed to it. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedWaitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var inputRecords = 0L
  /** Wall time of jobs re-attributed away from the span that ran them. */
  var movedJobNs = 0L
  var exchanges = 0L
  var broadcasts = 0L
  var rddScans = 0L
  var filesRead = 0L
  /** Whole-stage and expression code generations compiled (cache misses). */
  var compiles = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; cpuNs += o.cpuNs; gcMs += o.gcMs
    schedWaitMs += o.schedWaitMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes
    outputRecords += o.outputRecords; inputRecords += o.inputRecords
    movedJobNs += o.movedJobNs
    exchanges += o.exchanges; broadcasts += o.broadcasts; rddScans += o.rddScans
    filesRead += o.filesRead; compiles += o.compiles
  }
}

/** Records spans around the benchmark's calls into the program and, from
  * a SparkListener and a QueryExecutionListener attached from outside,
  * attributes every job, stage, task and executed plan to the span that
  * ran it. Eager schema jobs are re-attributed by call site: a job whose
  * call stack passes through `Ingest.rawListings` is the listing header
  * probe, one through the side-file readers belongs to the staging dims.
  *
  * Counters are read only after the listener bus has drained, so job,
  * stage and plan counts repeat exactly from run to run.
  */
final class Tracer(spark: SparkSession) {
  private val SpanKey = "perfbench.span"
  private val sc = spark.sparkContext
  private val done = mutable.ArrayBuffer.empty[Span]
  private val names = mutable.Map.empty[Int, String]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var run = 0
  private var drainNs = 0L

  /** Time the traced cycles spent waiting for the listener bus to drain:
    * the tracer's synchronous cost. */
  def drainS: Double = drainNs / 1e9

  private def drain(): Unit = {
    val t0 = System.nanoTime()
    ListenerBus.drain(sc)
    drainNs += System.nanoTime() - t0
  }

  /** (span id, layer) -> counters. Written on the listener bus thread,
    * read after a drain. */
  private val counters = mutable.Map.empty[(Int, String), Counters]
  @volatile private var current = -1

  private def at(span: Int, layer: String): Counters = counters.synchronized {
    counters.getOrElseUpdate((span, layer), new Counters)
  }

  private def layerOfJob(span: Int, callSite: String): String =
    if (callSite.contains("Ingest$.rawListings")) "ingest.header_probe"
    else if (callSite.matches("(?s).*Ingest\\$\\.raw(Ssc|Lga|CensusG0[12]).*")) "staging.dims"
    else names.synchronized(names.getOrElse(span, "unattributed"))

  private val listener = new SparkListener {
    private val stageAt = mutable.Map.empty[Int, (Int, String)]
    private val stageSubmitted = mutable.Map.empty[Int, Long]
    private val jobAt = mutable.Map.empty[Int, (Int, String, Long)]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      val site = e.stageInfos.headOption.map(_.details).getOrElse("")
      val layer = layerOfJob(span, site)
      e.stageInfos.foreach(s => stageAt(s.stageId) = (span, layer))
      jobAt(e.jobId) = (span, layer, e.time)
      at(span, layer).jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobAt.remove(e.jobId).foreach { case (span, layer, start) =>
        if (layer != names.synchronized(names.getOrElse(span, ""))) {
          at(span, layer).movedJobNs += (e.time - start) * 1000000L
        }
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = e.stageInfo
      stageSubmitted(s.stageId) = s.submissionTime.getOrElse(System.currentTimeMillis())
      stageAt.get(s.stageId).foreach { case (span, layer) => at(span, layer).stages += 1 }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageAt.get(e.stageId).foreach { case (span, layer) =>
        val c = at(span, layer)
        stageSubmitted.get(e.stageId).foreach(t =>
          c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - t))
        val m = e.taskMetrics
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.outputBytes += m.outputMetrics.bytesWritten
          c.outputRecords += m.outputMetrics.recordsWritten
          c.inputRecords += m.inputMetrics.recordsRead
        }
      }
  }

  private val planListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val span = current
      val c = at(span, names.synchronized(names.getOrElse(span, "unattributed")))
      val plan: SparkPlan = qe.executedPlan
      c.exchanges += collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
      c.broadcasts += collectWithSubqueries(plan) { case e: BroadcastExchangeLike => e }.size
      c.rddScans += collectWithSubqueries(plan) { case e: RDDScanExec => e }.size
      c.filesRead += collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  def close(): Unit = {
    ListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  /** Runs `body` as a span. The bus is drained on entry and exit so each
    * executed plan is attributed to the span that ran it. */
  def span[T](name: String)(body: => T): T = {
    drain()
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    names.synchronized(names(id) = name)
    val prior = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    stack = id :: stack
    current = id
    val k0 = compileCount
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      drain()
      done += Span(name, id, parent, t0, t1, run, compileCount - k0)
      stack = stack.tail
      current = parent
      sc.setLocalProperty(SpanKey, prior)
    }
  }

  private def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Writes the recorded spans as JSON lines. */
  def writeSpans(p: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(p, done.map(s =>
      s"""{"name": "${s.name}", "id": ${s.id}, "parent": ${s.parent}, "start_ns": ${s.startNs}, """ +
        s""""end_ns": ${s.endNs}, "run": ${s.run}, "compiles": ${s.compiles}}""").mkString("", "\n", "\n"))

  /** Layer -> counters and self wall time for the spans of cycle `r`.
    * A span's self time is its wall minus its child spans and minus the
    * jobs re-attributed to another layer; those jobs' wall goes to that
    * layer. Layer self times therefore sum to the cycles' root wall. */
  def layers(r: Int): Map[String, (Double, Counters)] = {
    ListenerBus.drain(sc)
    val inRun = done.filter(_.run == r)
    val ids = inRun.map(_.id).toSet
    val children = inRun.groupBy(_.parent)
    val childWall = children.map { case (p, cs) => p -> cs.map(_.wallS).sum }
    val out = mutable.Map.empty[String, (Double, Counters)]
    def add(layer: String, wall: Double, c: Counters): Unit = {
      val (w0, c0) = out.getOrElse(layer, (0.0, new Counters))
      c0 += c
      out(layer) = (w0 + wall, c0)
    }
    inRun.foreach { s =>
      val own = new Counters
      own.compiles = s.compiles - children.get(s.id).fold(0L)(_.map(_.compiles).sum)
      add(s.name, s.wallS - childWall.getOrElse(s.id, 0.0), own)
    }
    counters.synchronized(counters.toSeq).foreach { case ((span, layer), c) =>
      if (ids(span)) {
        val own = names.synchronized(names(span))
        val moved = if (layer != own) c.movedJobNs / 1e9 else 0.0
        if (moved > 0) add(own, -moved, new Counters)
        add(layer, moved, c)
      }
    }
    out.toMap
  }
}
