package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Exact
import graft.ops.Kpis

/** Datamart layer: the four KPI views (populate.py:507–925) — each the
  * self-join-of-aggregates pattern (J5) over fact_listing: independently
  * filtered aggregates FULL OUTER joined on the grouping keys, plus LAG
  * month-over-month deltas (W4) and ratio columns (A8).
  *
  * Every view RUNS as the one-pass conditional-aggregation rewrite
  * (Kpis.fullOuterOfAggsOnePassArms): one fact scan + one map-side-
  * combinable shuffle instead of the literal N scans + N−1 full-outer
  * joins — the difference between reading the fact once and reading it
  * four times at 100 TB. Output is identical to the join form for ALL
  * inputs, nullable grouping keys included: the one-pass form
  * reproduces the FULL OUTER JOIN's per-arm split of NULL-keyed groups
  * by exploding them after aggregation (see the NULL-key notes on
  * Kpis.fullOuterOfAggsOnePassArms; KpisSpec + the PipelineSpec
  * goldens pin the equivalence, null-armed and null-keyed groups
  * included). The exact distinct host counts go through
  * Exact.countDistinct (the size of a collect_set), which runs in the
  * same object-hash aggregate as the median, so a view plans no
  * `Expand` and no second aggregation shuffle.
  *
  * Views are lazy DataFrames (CREATE OR REPLACE VIEW ≙
  * createOrReplaceTempView at the orchestrator).
  */
object Datamart {

  /** Estimated monthly revenue per listing:
    * (30 - availability_30) * price (populate.py:572–577). */
  private def estRevenue: Column =
    (lit(30) - col("availability_30")) * col("price")

  /** KPI 1 / 1-raw (populate.py:506–622, 628–743): per (area, year,
    * month) — the area key is `neighbourhood_lga` for the cleaned view
    * and `neighbourhood_cleansed` for the raw cross-check view (the
    * reference's duplicate-implementation habit, populate.py:625–627). */
  def kpiNeighbourhoodMonth(fact: DataFrame, areaCol: String): DataFrame = {
    // one-pass conditional aggregation (one scan + one shuffle) — output
    // identical to the literal 4-aggregate full-outer join even for the
    // raw view's NULLABLE area key (NULL-keyed groups split per-arm
    // post-aggregation); PipelineSpec goldens pin the equivalence
    val joined = Kpis.fullOuterOfAggsOnePassArms(
      fact,
      Seq(col(areaCol).as("area"), col("file_year"), col("file_month")),
      Seq(
        Kpis.Arm(None, m => Seq(
          "n_listings" -> count(m(lit(1))),
          "n_hosts" -> Exact.countDistinct(m(col("host_id"))),
          "min_price" -> min(m(col("price"))).cast("double"),
          "max_price" -> max(m(col("price"))).cast("double"),
          "median_price" -> median(m(col("price"))),
          "avg_price" -> Exact.avgMoney(m(col("price")))),
          zeroWhenEmpty = Set("n_listings", "n_hosts")),
        Kpis.Arm(Some(col("has_availability") === "t"), m => Seq(
          "n_active" -> count(m(lit(1))),
          "est_revenue_active" -> Exact.sumMoney(m(estRevenue))),
          zeroWhenEmpty = Set("n_active")),
        Kpis.Arm(Some(col("host_is_superhost") === "t"), m => Seq(
          "n_superhosts" -> Exact.countDistinct(m(col("host_id")))),
          zeroWhenEmpty = Set("n_superhosts")),
        Kpis.Arm(Some(col("has_availability") === "f"), m => Seq(
          "n_inactive" -> count(m(lit(1)))),
          zeroWhenEmpty = Set("n_inactive"))))
    val withRates = joined
      .withColumn("active_rate",
        round(col("n_active").cast("double") / col("n_listings").cast("double") * 100.0, 2))
      // n_hosts is 0 (not null) when a non-empty group has only NULL
      // host_ids — guard the 0/0 (verify skill: ANSI division)
      .withColumn("superhost_rate",
        when(col("n_hosts") === 0, lit(null)).otherwise(
          round(col("n_superhosts").cast("double") / col("n_hosts").cast("double") * 100.0, 2)))
    // tiebreak: per-arm split rows of a NULL-keyed area share their
    // month; their distinct null patterns across the metric columns
    // totally order them → deterministic LAG (see Kpis.lagPctChange)
    Kpis.lagPctChange(withRates, Seq("area"), Seq("file_year", "file_month"),
      "n_active", "pct_change_active",
      tieBreak = Seq("n_listings", "n_active", "n_superhosts", "n_inactive").map(col))
  }

  /** KPI 2 (populate.py:747–880): per (property_type, room_type,
    * accommodates, year, month) — the 5-key variant. */
  def kpiPropertyTypeMonth(fact: DataFrame): DataFrame = {
    // property_type/room_type/accommodates come uncoalesced from the raw
    // scrape and CAN be null — fine for one-pass: NULL-keyed groups
    // split per-arm post-aggregation, exactly like the reference's FULL
    // OUTER JOIN (see Kpis.fullOuterOfAggsOnePassArms)
    val keys = Seq("property_type", "room_type", "accommodates", "file_year", "file_month")
    val joined = Kpis.fullOuterOfAggsOnePassArms(
      fact, keys.map(col),
      Seq(
        Kpis.Arm(None, m => Seq(
          "n_listings" -> count(m(lit(1))),
          "n_hosts" -> Exact.countDistinct(m(col("host_id"))),
          "median_price" -> median(m(col("price"))),
          "avg_price" -> Exact.avgMoney(m(col("price")))),
          zeroWhenEmpty = Set("n_listings", "n_hosts")),
        Kpis.Arm(Some(col("has_availability") === "t"), m => Seq(
          "n_active" -> count(m(lit(1))),
          "est_revenue_active" -> Exact.sumMoney(m(estRevenue))),
          zeroWhenEmpty = Set("n_active")),
        Kpis.Arm(Some(col("has_availability") === "f"), m => Seq(
          "n_inactive" -> count(m(lit(1)))),
          zeroWhenEmpty = Set("n_inactive"))))
    Kpis.lagPctChange(joined, keys.take(3), Seq("file_year", "file_month"),
      "n_active", "pct_change_active",
      tieBreak = Seq("n_listings", "n_active", "n_inactive").map(col))
  }

  /** KPI 3 (populate.py:886–925): host-side monthly rollup per
    * (host_lga, year, month). */
  def kpiHostMonth(fact: DataFrame): DataFrame =
    Kpis.fullOuterOfAggsOnePassArms(
      fact,
      Seq(col("host_lga"), col("file_year"), col("file_month")),
      Seq(
        Kpis.Arm(None, m => Seq(
          "n_hosts" -> Exact.countDistinct(m(col("host_id"))),
          "n_listings" -> count(m(lit(1))),
          "avg_price" -> Exact.avgMoney(m(col("price")))),
          zeroWhenEmpty = Set("n_hosts", "n_listings")),
        Kpis.Arm(Some(col("has_availability") === "t"), m => Seq(
          "n_active" -> count(m(lit(1))),
          "est_revenue_active" -> Exact.sumMoney(m(estRevenue))),
          zeroWhenEmpty = Set("n_active"))))
}
