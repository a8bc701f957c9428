package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A family-stratified sample of `SparkEntry.queries` over the seeded
  * TPC-H-shaped tables: one query per stratum, each with DuckDB oracle
  * SQL. The sample is drawn with a fixed sampling seed and run in a fixed
  * order, so every run times the same queries and `--seed` varies only
  * the data. Each cycle is one pass over the sample, every
  * query built and its output written as parquet, which the caller
  * compares with the query's DuckDB oracle; the session cache is cleared
  * after each query, outside the timed region. The first pass after
  * set-up is timed, code generation and JIT included. */
final class RegistrySample(args: Main.Args) extends Workload(args) {

  import RegistrySample._

  def run(): String = {
    val tables = a.work.resolve("tables").toString
    val queries = SparkEntry.queries
    info("registry_sample") = sample.mkString(",")

    val out = a.work.resolve("out")
    final case class Pass(wallS: Double, cpuS: Double, queryMs: Seq[Double])
    def pass(spark: SparkSession, tr: Option[Tracer]): Pass = {
      val c0 = cpuNs
      val lat = mutable.ArrayBuffer.empty[Double]
      val blocks = mutable.ArrayBuffer.empty[Double]
      sample.foreach { q =>
        op(s"query $q") {
          def run(): Unit = queries(q)(spark, tables).write.mode("overwrite")
            .parquet(out.resolve(q).toString)
          lat += timed(tr.fold(run())(_.span("registry.query")(run())))._2 * 1e3
          Nil
        }
        spark.catalog.clearCache()
        blocks += storageMb(spark)
      }
      if (tr.isDefined) metrics("registry.block_mb_after") = (blocks.max, "MB")
      Pass(lat.sum / 1e3, (cpuNs - c0) / 1e9, lat.toSeq)
    }

    // set-up: a fresh session; the queries read the tables as given
    val spark = setups(3)(_ => ())
    fingerprint(spark)

    val more = deadline()
    if (a.trace) {
      val tr = new Tracer(spark)
      val traced = pass(spark, Some(tr))
      tr.close()
      val layers = perLayer(tr, Seq(0))
      emitLayers(layers, 1)
      val q = layers.getOrElse("registry.query", (0.0, new Counters))._2
      metrics("registry.query.exchanges") = (q.exchanges.toDouble, "count")
      metrics("registry.query.broadcasts") = (q.broadcasts.toDouble, "count")
      metrics("registry.query.rdd_scans") = (q.rddScans.toDouble, "count")
      metrics("registry.traced_wall_s") = (traced.wallS, "s")
      metrics("trace.drain_s") = (tr.drainS, "s")
      tr.writeSpans(a.work.resolve("spans.json"))
    } else {
      val passes = mutable.ArrayBuffer.empty[Pass]
      do { passes += pass(spark, None) } while (more())
      endToEnd(passes.map(_.wallS).toSeq, passes.map(_.cpuS).toSeq,
        passes.flatMap(_.queryMs).toSeq)
    }

    val oracle = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"), sample.map { q =>
      s""""$q": "${Workload.jsonEscape(oracle(q))}""""
    }.mkString("{", ",\n", "}"))
    stop(spark)
    result()
  }
}

object RegistrySample {

  /** Strata of the registry by family, each listing its members that
    * finish in about a second or less at this scale once warm, with an
    * oracle DuckDB answers as fast. A cold pass costs ten seconds or more
    * of code generation per query, so three strata are what fits one run;
    * the graph family, the costliest cold, is left out. */
  val strata: Seq[(String, Seq[String])] = Seq(
    "q_pipeline" -> Seq("q_pipeline_kpi_host", "q_pipeline_kpi_neighbourhood"),
    "x_sim" -> Seq("x_sim_cosine_topk", "x_embed_quantize", "x_embed_gram"),
    "x_text" -> Seq("x_text_chunks", "x_text_hashclf"))

  val samplingSeed = 20261017L

  /** One query per stratum, drawn from the queries that have oracle SQL. */
  lazy val sample: Seq[String] = {
    val withOracle = SparkEntry.oracleSql.keySet
    val r = new scala.util.Random(samplingSeed)
    strata.map { case (stratum, members) =>
      val eligible = members.filter(withOracle.contains)
      require(eligible.nonEmpty, s"no oracle-checked query in stratum $stratum")
      eligible(r.nextInt(eligible.length))
    }
  }
}
