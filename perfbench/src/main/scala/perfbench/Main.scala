package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Runs one benchmark workload in one JVM (see `perfbench/run.py`,
  * which builds, generates the registry tables, runs this and finishes
  * the DuckDB checks).
  *
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <out json>`
  *
  * Every workload runs on `local[4]` with one client in a closed loop:
  * set up several times (reporting the median), then repeat the
  * workload's cycle until `seconds` have passed, checking each output.
  * With trace 1 the first cycles run under a [[Tracer]] and the result
  * carries per-layer metrics instead of end-to-end ones.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, out: Path)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      Paths.get(argv(4)).toAbsolutePath, Paths.get(argv(5)).toAbsolutePath)
    val w: Workload = a.workload match {
      case "pipeline_batch" => new PipelineBatch(a)
      case "registry_sample" => new RegistrySample(a)
      case other =>
        System.err.println(s"unknown workload $other")
        sys.exit(2)
    }
    val result = w.run()
    Files.writeString(a.out, result)
  }
}

object Workload {
  def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}

/** Shared machinery: sessions, timing, gates and the result document. */
abstract class Workload(val a: Main.Args) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  val rnd = new java.util.SplittableRandom(a.seed)

  def run(): String

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One operation: counted as attempted; an exception or a non-empty
    * list of gate failures counts it as failed, with its cause kept. */
  def op(what: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val causes =
      try body
      catch { case e: Throwable => Seq(s"exception: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (causes.nonEmpty) {
      failed += 1
      if (failures.length < 50) failures += s"$what: ${causes.take(5).mkString("; ")}"
      System.err.println(s"[perfbench] FAILED $what: ${causes.take(5).mkString("; ")}")
    }
  }

  /** Order-independent digest of collected rows. */
  def rowsDigest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = (s.length - 1) * q
    val lo = s(pos.floor.toInt)
    lo + (s(pos.ceil.toInt) - lo) * (pos - pos.floor)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs the set-up `n` times, each on a fresh session (the last one is
    * kept), and records the median wall of session build plus `setup` as
    * `setup_s`. */
  def setups(n: Int)(setup: SparkSession => Unit): SparkSession = {
    val built = (1 to n).map { i =>
      val (s, dt) = timed { val s = session(); setup(s); s }
      if (i < n) stop(s)
      (s, dt)
    }
    val times = built.map(_._2)
    info("setup_s_each") = times.map(t => f"$t%.3f").mkString(",")
    metrics("setup_s") = (median(times), "s")
    built.last._1
  }

  def endToEnd(opS: Seq[Double], opCpuS: Seq[Double], readMs: Seq[Double]): Unit = {
    metrics("op_s") = (median(opS), "s")
    metrics("op_cpu_s") = (median(opCpuS), "s")
    metrics("read_p50_ms") = (quantile(readMs, 0.5), "ms")
    info("op_s_each") = opS.map(t => f"$t%.3f").mkString(",")
    info("reads") = readMs.length.toString
  }

  val layerNames: Seq[String] = Seq("ingest.header_probe", "staging.dims", "staging.listing",
    "warehouse.fact", "datamart.kpi_neighbourhood", "datamart.kpi_neighbourhood_raw",
    "datamart.kpi_property_type", "datamart.kpi_host", "refresh.tick", "registry.query")

  /** Per-layer metrics, averaged over the traced cycles. Layers the
    * workload does not run report zero. */
  def perLayer(tr: Tracer, cycles: Seq[Int]): Map[String, (Double, Counters)] = {
    val per = cycles.map(tr.layers)
    val names = per.flatMap(_.keys).distinct
    val n = cycles.length.toDouble
    names.map { l =>
      val sum = new Counters
      var wall = 0.0
      per.foreach(_.get(l).foreach { case (w, c) => wall += w; sum += c })
      l -> (wall / n, sum)
    }.toMap
  }

  /** The core counters of one layer, per cycle. */
  def emitCore(l: String, wall: Double, c: Counters, cycles: Int): Unit = {
    val mb = 1024.0 * 1024.0
    metrics(s"$l.wall_s") = (wall, "s")
    metrics(s"$l.jobs") = (c.jobs.toDouble / cycles, "count")
    metrics(s"$l.stages") = (c.stages.toDouble / cycles, "count")
    metrics(s"$l.cpu_s") = (c.cpuNs / 1e9 / cycles, "s")
    metrics(s"$l.gc_s") = (c.gcMs / 1e3 / cycles, "s")
    metrics(s"$l.sched_wait_s") = (c.schedWaitMs / 1e3 / cycles, "s")
    metrics(s"$l.shuffle_write_mb") = (c.shuffleWriteBytes / mb / cycles, "MB")
    metrics(s"$l.spill_mb") = (c.spillBytes / mb / cycles, "MB")
    metrics(s"$l.codegen_compiles") = (c.compiles.toDouble / cycles, "count")
  }

  def emitLayers(layers: Map[String, (Double, Counters)], cycles: Int): Unit = {
    layerNames.foreach { l =>
      val (wall, c) = layers.getOrElse(l, (0.0, new Counters))
      emitCore(l, wall, c, cycles)
    }
    // AirbnbPipeline.run's own time, less the schema jobs re-attributed to
    // the ingest and staging layers, is plan building on the main thread
    val plan = layers.get("pipeline.run").fold(0.0)(_._1)
    val rest = layers.filter { case (l, _) => !layerNames.contains(l) }.values.map(_._1).sum
    metrics("pipeline.plan_s") = (plan, "s")
    metrics("pipeline.unattributed_s") = (rest - plan, "s")
    Seq("kpi_neighbourhood", "kpi_neighbourhood_raw", "kpi_property_type", "kpi_host").foreach { v =>
      metrics(s"datamart.$v.exchanges") =
        (layers.get(s"datamart.$v").map(_._2.exchanges.toDouble / cycles).getOrElse(0.0), "count")
    }
  }

  def fingerprint(spark: SparkSession): Unit = {
    info("nproc") = Runtime.getRuntime.availableProcessors.toString
    info("heap_mb") = (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString
    info("jdk") = System.getProperty("java.version")
    info("spark") = spark.version
    info("master") = spark.sparkContext.master
    info("seed") = a.seed.toString
  }

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024.0 * 1024.0)

  def result(): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val inf = info.map { case (k, v) => s""""$k": "${Workload.jsonEscape(v)}"""" }.mkString("{", ", ", "}")
    val fs = failures.map(f => "\"" + Workload.jsonEscape(f) + "\"").mkString("[", ", ", "]")
    s"""{"attempted": $attempted, "failed": $failed, "metrics": $ms, "failures": $fs, "info": $inf}"""
  }

  def deadline(): () => Boolean = {
    val end = System.nanoTime() + (a.seconds * 1e9).toLong
    () => System.nanoTime() < end
  }
}
