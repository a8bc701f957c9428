package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the program's mains (`Bench`,
  * `Verify`, `ScaleGen`, `tools.StreamLatency`): `local[cpus]` with the
  * shuffle width equal to the core count, a UTC session time zone
  * (`Tables.events` requires it), no UI and WARN logging. `cpus` is
  * `SPARK_GRAFT_CPUS`, default 4. */
object LocalSession {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
