package graft.core

import org.apache.spark.sql.SparkSession

/** The one scoped session-conf helper: every temporary conf override
  * in the program goes through [[withConf]], which restores the prior
  * value (or unsets a key that had none) when the scope exits, so
  * plans built outside the scope are untouched.
  */
object Confs {

  def withConf[T](spark: SparkSession, key: String, value: String)(
      body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** AQE off for the duration of `body`. Right for fixed-point loops
    * whose plan shape is fully known at plan time (explicit broadcasts,
    * co-partitioned joins, bounded aggregates): AQE's levers (coalesce,
    * skew split, join conversion) never fire there, but its
    * stage-by-stage query stages each run as a separate job — and a
    * tiny per-round plan pays the ~70 ms per-job scheduling floor once
    * per stage instead of once per action (per-query job counts in
    * OPTIMIZATION_r11.md and the plans in plans/r11/). Results are
    * identical: AQE re-plans, never re-scores. */
  def withoutAqe[T](spark: SparkSession)(body: => T): T =
    withConf(spark, "spark.sql.adaptive.enabled", "false")(body)
}
