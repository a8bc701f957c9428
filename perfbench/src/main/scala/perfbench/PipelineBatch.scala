package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.pipeline.AirbnbPipeline

/** The paper's monthly rebuild: `AirbnbPipeline.run` over the twelve raw
  * files, then staging, fact and all four KPI views forced with the
  * `noop` sink (the location dim is built inside the fact's broadcast). One cycle is one full rebuild from the CSVs; the caches it
  * builds are dropped before the next. */
final class PipelineBatch(args: Main.Args) extends Workload(args) {
  import PipelineBatch.Cycle

  val views: Seq[(String, AirbnbPipeline.Tables => DataFrame)] = Seq(
    "kpi_neighbourhood" -> (_.kpiNeighbourhoodMonth),
    "kpi_neighbourhood_raw" -> (_.kpiNeighbourhoodMonthRaw),
    "kpi_property_type" -> (_.kpiPropertyTypeMonth),
    "kpi_host" -> (_.kpiHostMonth))

  def cycle(spark: SparkSession, raw: Path, tr: Option[Tracer]): Cycle = {
    def sp[T](name: String)(body: => T): T = tr.fold(body)(_.span(name)(body))
    val lat = mutable.ArrayBuffer.empty[Double]
    val c0 = cpuNs
    val (t, wall) = timed {
      sp("pipeline") {
        val t = sp("pipeline.run")(AirbnbPipeline.run(spark, raw.toString))
        sp("staging.listing")(noop(t.stagingListing))
        sp("warehouse.fact")(noop(t.factListing))
        views.foreach { case (v, f) =>
          lat += timed(sp(s"datamart.$v")(noop(f(t))))._2 * 1e3
        }
        t
      }
    }
    Cycle(wall, (cpuNs - c0) / 1e9, lat.toSeq, t)
  }

  def release(t: AirbnbPipeline.Tables): Unit = {
    t.factListing.unpersist(blocking = true)
    t.stagingListing.unpersist(blocking = true)
  }

  def viewRows(t: AirbnbPipeline.Tables): Seq[Seq[Row]] =
    views.map { case (_, f) => f(t).collect().toSeq }

  def run(): String = {
    val raw = a.work.resolve("raw")
    val late = a.work.resolve("late")
    val (stats, expected) = Corpus.write(raw, late, a.seed, PipelineBatch.rowsPerMonth)
    info("corpus_files") = stats.files.toString
    info("corpus_rows") = stats.rows.toString
    info("corpus_bytes") = stats.bytes.toString
    info("corpus_sha256") = stats.sha256

    // set-up: a fresh session; the batch has no program-side set-up, it
    // starts from the raw files
    val spark = setups(3)(_ => ())
    fingerprint(spark)

    // gates: the first cycle's views equal the generator's expectations;
    // every later cycle's views hash-equal the first's
    var reference: Seq[String] = Nil
    def check(c: Cycle, i: Int): Unit = {
      op(s"cycle $i views") {
        val rows = viewRows(c.tables)
        if (i == 0) {
          reference = rows.map(rowsDigest)
          Gates.views(rows, expected)
        } else {
          views.map(_._1).zip(reference.zip(rows.map(rowsDigest))).collect {
            case (v, (r, x)) if r != x => s"$v digest $x != first cycle's $r"
          }
        }
      }
      release(c.tables)
    }

    // The first cycle after set-up is timed: it is the rebuild a monthly
    // run pays in a fresh JVM, JIT and code generation included.
    val more = deadline()
    if (a.trace) {
      val tr = new Tracer(spark)
      val c = cycle(spark, raw, Some(tr))
      val layers = tr.layers(0)
      val rowsIn = layers.get("staging.listing").fold(0L)(_._2.inputRecords)
      val rowsOut = c.tables.stagingListing.count()
      metrics("staging.listing.rows_in") = (rowsIn.toDouble, "count")
      metrics("staging.listing.rows_out") = (rowsOut.toDouble, "count")
      metrics("staging.listing.keep_frac") = (rowsOut.toDouble / rowsIn, "ratio")
      metrics("warehouse.fact.rows_out") = (c.tables.factListing.count().toDouble, "count")
      metrics("warehouse.resident_cache_mb") = (storageMb(spark), "MB")
      emitLayers(layers, 1)
      metrics("pipeline.traced_wall_s") = (c.wallS, "s")
      metrics("trace.drain_s") = (tr.drainS, "s")
      new RefreshServe(this, raw, late).traced(spark, tr, firstRun = 1, c.tables)
      tr.close()
      check(c, 0)
      tr.writeSpans(a.work.resolve("spans.json"))
    } else {
      val cycles = mutable.ArrayBuffer.empty[Cycle]
      do {
        val c = cycle(spark, raw, None)
        check(c, cycles.length)
        cycles += c
      } while (more())
      endToEnd(cycles.map(_.wallS).toSeq, cycles.map(_.cpuS).toSeq, cycles.flatMap(_.viewMs).toSeq)
    }
    stop(spark)
    result()
  }
}

object PipelineBatch {
  /** Rows per monthly file (plus 40 per month index, plus duplicates). A
    * rebuild's cost is mostly planning and code generation, which does not
    * grow with rows, so the corpus is kept small enough for a cold cycle
    * to fit one run. */
  val rowsPerMonth: Int = 300

  final case class Cycle(wallS: Double, cpuS: Double, viewMs: Seq[Double],
                         tables: AirbnbPipeline.Tables)
}

/** Correctness gates against generator-derived expectations. */
object Gates {

  private def num(r: Row, c: String): Option[Double] =
    Option(r.getAs[Any](c)).map {
      case n: java.lang.Number => n.doubleValue
      case o => o.toString.toDouble
    }

  /** Compares the four KPI views' rows (in the batch cycle's order) with
    * the per-group aggregates the generator
    * derived, exactly (the generator repeats the views' double
    * arithmetic); groups with a NULL key are skipped (the view splits
    * them per arm). Returns one line per mismatch. */
  def views(rows: Seq[Seq[Row]], exp: Corpus.Expected): Seq[String] = {
    val area = Seq("area", "file_year", "file_month")
    val keys = Seq(
      "kpi_neighbourhood" -> area,
      "kpi_neighbourhood_raw" -> area,
      "kpi_property_type" -> Seq("property_type", "room_type", "accommodates", "file_year", "file_month"),
      "kpi_host" -> Seq("host_lga", "file_year", "file_month"))
    keys.zip(rows).flatMap { case ((v, k), r) => compare(v, r, k, exp.views(v)) }
  }

  def compare(v: String, rows: Seq[Row], keys: Seq[String],
              exp: collection.Map[Seq[Any], Corpus.Agg]): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val got = rows.map(r => keys.map(k => r.getAs[Any](k)) -> r)
      .filterNot(_._1.contains(null)).toMap
    if (got.size != exp.size) bad += s"$v: ${got.size} groups, expected ${exp.size}"
    val cols = rows.headOption.map(_.schema.fieldNames.toSet).getOrElse(Set.empty)
    exp.foreach { case (k, e) =>
      got.get(k) match {
        case None => bad += s"$v: group ${k.mkString("/")} missing"
        case Some(r) =>
          // an arm with no rows in the group reports NULL (the reference's
          // full outer join of per-arm aggregates)
          def arm(nonEmpty: Boolean, v: => Double) = if (nonEmpty) Some(v) else None
          val want: Seq[(String, Option[Double])] = Seq(
            "n_listings" -> Some(e.n.toDouble),
            "n_hosts" -> Some(e.hosts.size.toDouble),
            "min_price" -> Some(e.prices.min.toDouble),
            "max_price" -> Some(e.prices.max.toDouble),
            "median_price" -> Some(e.median),
            "avg_price" -> Some(e.priceSum.toDouble / e.n),
            "n_active" -> arm(e.nActive > 0, e.nActive.toDouble),
            "est_revenue_active" -> arm(e.nActive > 0, e.revenueActive.toDouble),
            "n_inactive" -> arm(e.nInactive > 0, e.nInactive.toDouble),
            "n_superhosts" -> arm(e.superhosts.nonEmpty, e.superhosts.size.toDouble))
          want.filter { case (c, _) => cols(c) }.foreach { case (c, w) =>
            (num(r, c), w) match {
              case (Some(x), Some(y)) if x == y =>
              case (None, None) =>
              case (got, _) =>
                bad += s"$v ${k.mkString("/")}: $c = ${got.orNull}, expected ${w.orNull}"
            }
          }
      }
    }
    bad.toSeq
  }
}
