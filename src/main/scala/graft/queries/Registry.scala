package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checkable query: a DataFrame program over the testdata dir
  * plus (when SQL-expressible) the equivalent DuckDB SQL. Column names are
  * aliased identically on both sides — the driver's compare sorts columns
  * by name before hashing.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Registry {
  def all: Seq[Q] = unique(
    ReferenceQueries.all ++ ExtensionQueries.all ++ RelationalQueries.all ++
      EltQueries.all ++ TimeSeriesQueries.all ++ LayoutQueries.all ++
      CurationQueries.all ++ GeoQueries.all ++ TrainingQueries.all ++
      StatsQueries.all ++ PipelineOracleQueries.all)

  /** `qs`, failing on a repeated query name: the name-keyed maps below
    * would otherwise keep one of the two queries and drop the other
    * without a word. */
  private[queries] def unique(qs: Seq[Q]): Seq[Q] = {
    val repeated = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty,
      s"duplicate registry query names: ${repeated.toSeq.sorted.mkString(", ")}")
    qs
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> withSessionDefaults(q.fn)).toMap

  /** Oracle correctness contract: year/month extraction and
    * timestamp-literal casts assume a UTC session. Verify/Bench set it,
    * but a driver invoking SparkEntry.queries with its own session must
    * get the same results — so pin it at query-build time. */
  private def withSessionDefaults(
      fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, d) => {
      s.conf.set("spark.sql.session.timeZone", "UTC")
      fn(s, d)
    }

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
