package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{AirbnbPipeline, Datamart, Ingest, Refresh, Staging, Warehouse}

/** The operational refresh loop, run traced after the traced batch cycle:
  * an eleven-month fact committed through `Refresh.refreshFact`
  * (untraced), then two ticks on that restored state. The first lands the
  * twelfth month; the second lands a late second file for the
  * already-committed eleventh month (the re-include path). After each
  * tick a seeded stream of reads queries the four `Datamart` views, each
  * read scoped to one month of the partitioned `Refresh.fact`; reads draw
  * months 1-10, whose content is the same in both tick states.
  *
  * Gates: each ticked month equals the batch fact's rows for that month
  * (for the re-included month, together with the late file's fact rows),
  * and each read equals the same query over the batch fact. */
final class RefreshServe(w: Workload, gen: Path, late: Path) {

  val readsPerTick = 8
  val readMonths: Seq[(Int, Int)] = Corpus.months.take(10)

  val views: Seq[(String, DataFrame => DataFrame)] = Seq(
    "kpi_neighbourhood" -> (f => Datamart.kpiNeighbourhoodMonth(f, "neighbourhood_lga")),
    "kpi_neighbourhood_raw" -> (f => Datamart.kpiNeighbourhoodMonth(f, "neighbourhood_cleansed")),
    "kpi_property_type" -> (f => Datamart.kpiPropertyTypeMonth(f)),
    "kpi_host" -> (f => Datamart.kpiHostMonth(f)))

  private val work = gen.getParent
  private val live = work.resolve("live")
  private val fact = work.resolve("fact")
  private val snapshot = work.resolve("fact_snapshot")
  private val monthly = Corpus.months.map { case (m, y) => Corpus.fileName(m, y) }
  private val landings = Seq(gen.resolve(monthly.last), late.resolve(Corpus.lateFile))
  private val tickMonths = Seq(Corpus.months.last, Corpus.months(Corpus.lateMonthIndex - 1))

  private def month(df: DataFrame, ym: (Int, Int)): DataFrame =
    df.where(col("file_year") === ym._2 && col("file_month") === ym._1)

  private def link(from: Path, to: Path): Unit = {
    Files.createDirectories(to.getParent)
    Files.deleteIfExists(to)
    Files.createLink(to, from)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }

  private def dataFiles: Seq[Path] =
    Files.walk(fact.resolve("data")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq

  /** Order-independent digest of a fact slice: the sum of its row hashes
    * (columns in name order) and its row count. */
  private def sliceDigest(df: DataFrame, cols: Seq[String]): (BigDecimal, Long) = {
    val h = df.select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(sum("h"), count(lit(1))).head()
    (Option(h.getDecimal(0)).fold(BigDecimal(0))(BigDecimal(_)), h.getLong(1))
  }

  /** Runs the two traced ticks (tracer runs `firstRun` and `firstRun + 1`)
    * and records the refresh metrics. Expectations come from `batchRun`,
    * the batch cycle's cached tables over the twelve monthly files, plus
    * the late file's own fact rows for the re-included month. */
  def traced(spark: SparkSession, tr: Tracer, firstRun: Int,
             batchRun: AirbnbPipeline.Tables): Unit = {
    (Corpus.sideFiles ++ monthly.init).foreach(f => link(gen.resolve(f), live.resolve(f)))
    Refresh.refreshFact(spark, live.toString, fact.toString)
    copyTree(fact, snapshot)

    val plan = Seq.fill(2 * readsPerTick)(
      (views(w.rnd.nextInt(views.length)), readMonths(w.rnd.nextInt(readMonths.length))))
    val batchFact = batchRun.factListing
    val factCols = batchFact.columns.toSeq.sorted
    val lateFact = Warehouse.factListing(
      Staging.listing(Seq(Ingest.rawListings(spark, late.resolve(Corpus.lateFile).toString))),
      batchRun.stagingLocation)
    val (lateSum, lateCount) = sliceDigest(lateFact, factCols)
    val expectedMonth = tickMonths.zipWithIndex.map { case (ym, k) =>
      val (s0, n0) = sliceDigest(month(batchFact, ym), factCols)
      ym -> (if (k == 0) (s0, n0) else (s0 + lateSum, n0 + lateCount))
    }.toMap
    val expectedRead = plan.map { case ((v, f), ym) => ((v, ym), f) }.toMap.map {
      case ((v, ym), f) => (v, ym) -> w.rowsDigest(f(month(batchFact, ym)).collect().toSeq)
    }
    val newRows = batchFact.where(col("filename") === monthly.last).count() + lateCount

    val ticks = (0 until 2).map { k =>
      deleteTree(fact)
      copyTree(snapshot, fact)
      landings.foreach(f => Files.deleteIfExists(live.resolve(f.getFileName)))
      link(landings(k), live.resolve(landings(k).getFileName))
      val ym = tickMonths(k)
      tr.run = firstRun + k
      val t0 = System.currentTimeMillis()
      tr.span("refresh")(tr.span("refresh.tick")(
        Refresh.refreshFact(spark, live.toString, fact.toString)))
      val files = dataFiles
      val rawBytes = Files.list(live).iterator().asScala
        .filter(_.getFileName.toString.contains("listings")).map(p => Files.size(p)).sum
      val written = files.count(p => Files.getLastModifiedTime(p).toMillis >= t0)
      w.op(s"tick $k: month ${ym._2}-${ym._1} vs batch fact") {
        val got = sliceDigest(month(Refresh.fact(spark, fact.toString), ym), factCols)
        if (got == expectedMonth(ym)) Nil else Seq(s"digest $got != ${expectedMonth(ym)}")
      }
      plan.slice(k * readsPerTick, (k + 1) * readsPerTick).foreach { case ((v, f), ym) =>
        val rows = tr.span("refresh") {
          val f0 = tr.span("refresh.read")(Refresh.fact(spark, fact.toString))
          tr.span(s"datamart.$v")(f(month(f0, ym)).collect().toSeq)
        }
        w.op(s"read $v ${ym._2}-${ym._1}") {
          val d = w.rowsDigest(rows)
          if (d == expectedRead((v, ym))) Nil else Seq(s"digest $d != ${expectedRead((v, ym))}")
        }
      }
      (written.toDouble, files.map(p => Files.size(p)).sum.toDouble / rawBytes, files.length)
    }

    val layers = w.perLayer(tr, Seq(firstRun, firstRun + 1))
    val (tickWall, tick) = layers.getOrElse("refresh.tick", (0.0, new Counters))
    val mb = 1024.0 * 1024.0
    w.metrics("refresh.tick.output_mb") = (tick.outputBytes / mb / 2, "MB")
    w.metrics("refresh.tick.files_written") = (ticks.map(_._1).sum / 2, "count")
    w.metrics("refresh.tick.rows_written_per_new_row") =
      (tick.outputRecords.toDouble / newRows, "ratio")
    w.metrics("refresh.fact_bytes_per_raw_byte") = (ticks.map(_._2).sum / 2, "ratio")
    w.metrics("refresh.read.wall_s") =
      (layers.get("refresh.read").map(_._1).getOrElse(0.0) / readsPerTick, "s")
    val scanned = views.map(v => layers.get(s"datamart.${v._1}").fold(0L)(_._2.filesRead)).sum
    val filesPerRead = ticks.map(_._3).sum / 2.0
    w.metrics("refresh.read.files_read_frac") = (scanned / (2.0 * readsPerTick * filesPerRead), "ratio")
    w.emitCore("refresh.tick", tickWall, tick, 2)
  }
}
