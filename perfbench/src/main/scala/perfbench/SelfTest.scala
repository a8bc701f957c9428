package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Shows that each JVM-side gate trips on a perturbed output: the KPI
  * views against the generator's expectations, and the row digests that
  * compare cycles and refresh reads. Exits non-zero if a perturbation
  * passes or the unperturbed control fails. Needs no Spark session.
  *
  * `perfbench.SelfTest` (run by `perfbench/selftest.py`). */
object SelfTest {

  private val schema = StructType(Seq(
    StructField("host_lga", StringType), StructField("file_year", IntegerType),
    StructField("file_month", IntegerType), StructField("n_hosts", LongType),
    StructField("n_listings", LongType), StructField("avg_price", DoubleType),
    StructField("n_active", LongType), StructField("est_revenue_active", DoubleType)))

  private def row(values: Any*): Row = new GenericRowWithSchema(values.toArray, schema)

  def main(args: Array[String]): Unit = {
    val exp = new Corpus.Expected
    Seq((101L, "120.00", Some(true), 10), (102L, "80.50", Some(false), 30)).foreach {
      case (host, price, avail, a30) =>
        exp.add(Corpus.FactRow(2020, 5, host, BigDecimal(price), superhost = false, avail,
          a30, "SYDNEY", Some("Sydney"), "SYDNEY", "Entire house", "Private room", 2))
    }
    val want = exp.views("kpi_host")
    val keys = Seq("host_lga", "file_year", "file_month")
    def gate(rows: Row*) = Gates.compare("kpi_host", rows, keys, want)

    val good = row("SYDNEY", 2020, 5, 2L, 2L, 100.25, 1L, 2400.0)
    val cases: Seq[(String, Seq[String], Boolean)] = Seq(
      ("control: exact view", gate(good), false),
      ("count off by one", gate(row("SYDNEY", 2020, 5, 2L, 3L, 100.25, 1L, 2400.0)), true),
      ("average off in the last bit",
        gate(row("SYDNEY", 2020, 5, 2L, 2L, Math.nextUp(100.25), 1L, 2400.0)), true),
      ("NULL where a value is due", gate(row("SYDNEY", 2020, 5, 2L, 2L, 100.25, null, 2400.0)), true),
      ("group missing", gate(), true),
      ("extra group", gate(good, row("OTHER", 2020, 5, 1L, 1L, 9.0, 1L, 1.0)), true),
      ("group under another key", gate(row("SYDNEY", 2020, 6, 2L, 2L, 100.25, 1L, 2400.0)), true))

    val w = new Workload(Main.Args("selftest", 0L, 0, trace = false, null, null)) {
      def run(): String = ""
    }
    val d0 = w.rowsDigest(Seq(good, row("OTHER", 2020, 5, 1L, 1L, 9.0, 1L, 1.0)))
    val digests: Seq[(String, Boolean, Boolean)] = Seq(
      ("digest control: same rows, other order",
        d0 == w.rowsDigest(Seq(row("OTHER", 2020, 5, 1L, 1L, 9.0, 1L, 1.0), good)), false),
      ("digest: one value changed",
        d0 == w.rowsDigest(Seq(good, row("OTHER", 2020, 5, 1L, 1L, 9.5, 1L, 1.0))), true),
      ("digest: one row dropped", d0 == w.rowsDigest(Seq(good)), true))

    var bad = 0
    cases.foreach { case (name, failures, shouldTrip) =>
      val ok = failures.nonEmpty == shouldTrip
      if (!ok) bad += 1
      println(s"${if (ok) "ok  " else "FAIL"} views gate, $name: ${failures.headOption.getOrElse("passes")}")
    }
    digests.foreach { case (name, equal, shouldTrip) =>
      val ok = equal != shouldTrip
      if (!ok) bad += 1
      println(s"${if (ok) "ok  " else "FAIL"} $name: ${if (equal) "equal" else "differs"}")
    }
    if (bad > 0) sys.exit(1)
  }
}
