package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-comparison statistics over PRE-BINNED samples — the
  * scale-safe form of the classic two-sample tests: the caller maps
  * raw values onto a bounded integer grid (one combinable per-bin
  * count is then the only corpus-sized operation), and these kernels
  * run entirely on the ≤|grid|-row bin frame. Statistics are exact
  * integers until the final emit (identical IEEE expression trees on
  * both engines — see the oracle SQLs in
  * [[graft.queries.StatsQueries]]).
  */
object Stats {

  /** Two-sample Kolmogorov–Smirnov over a binned frame
    * `pts(is_a: Boolean, b: Long)`. Emits one row:
    * (n1, n2, d_num, d_at_bin, d, significant) where
    * d_num = max_b |cumA(b)·n2 − cumB(b)·n1| (exact BIGINT),
    * d = d_num/(n1·n2), d_at_bin the first bin achieving the max, and
    * `significant` the asymptotic 95% Kolmogorov bar
    * c(0.05)=1.358·√((n1+n2)/(n1·n2)). */
  def ksBinned(pts: DataFrame): DataFrame = {
    val perBin = pts.groupBy(col("b")).agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
      sum(when(col("is_a"), 0L).otherwise(1L)).as("nb"))
    val wCum = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perBin.select(col("b"),
      sum(col("na")).over(wCum).as("ca"),
      sum(col("nb")).over(wCum).as("cb"))
    val tot = pts.agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("is_a"), 0L).otherwise(1L)).as("n2"))
    cum.crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"), col("b"),
        abs(col("ca") * col("n2") - col("cb") * col("n1")).as("dnum"))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("dnum")).as("d_num"),
        min_by(col("b"), struct(-col("dnum"), col("b"))).as("d_at_bin"))
      .withColumn("d", col("d_num").cast("double")
        / (col("n1") * col("n2")).cast("double"))
      .withColumn("bar", lit(1.358) * sqrt(
        (col("n1") + col("n2")).cast("double")
          / (col("n1") * col("n2")).cast("double")))
      .select(col("n1"), col("n2"), col("d_num"),
        col("d_at_bin").cast("long").as("d_at_bin"),
        round(col("d"), 6).as("d"),
        (col("d") > col("bar")).as("significant"))
  }

  /** Mann–Whitney U over the same binned frame shape, midranks over
    * bins, tie-corrected normal approximation. U1 is carried doubled
    * (U1×2 = Σ_b na_b·(2·cumB_before(b) + nb_b), exact BIGINT) so
    * midrank halves stay integral; z finalized once in double. */
  def mannWhitneyBinned(pts: DataFrame): DataFrame = {
    val perBin = pts.groupBy(col("b")).agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
      sum(when(col("is_a"), 0L).otherwise(1L)).as("nb"))
    val wBefore = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perBin.withColumn("cb_less",
      coalesce(sum(col("nb")).over(wBefore), lit(0L)))
    ranked.agg(
      sum(col("na")).as("n1"), sum(col("nb")).as("n2"),
      sum(col("na") * (col("cb_less") * 2 + col("nb"))).as("u1_x2"),
      sum((col("na") + col("nb")) * (col("na") + col("nb"))
        * (col("na") + col("nb")) - (col("na") + col("nb"))).as("tie_t"))
      .withColumn("nn", (col("n1") + col("n2")).cast("double"))
      .withColumn("mu_x2", (col("n1") * col("n2")).cast("double"))
      .withColumn("var_u", col("n1").cast("double") * col("n2").cast("double")
        / 12.0 * ((col("nn") + 1.0)
          - col("tie_t").cast("double") / (col("nn") * (col("nn") - 1.0))))
      .withColumn("z",
        // var_u = 0 when every row lands in one bin (fully tied
        // samples); an unguarded divide is engine-divergent there
        // (Spark NULL vs IEEE NaN/inf), so pin z = 0 on both sides
        when(col("var_u") > 0,
          (col("u1_x2").cast("double") - col("mu_x2")) / 2.0
            / sqrt(col("var_u"))).otherwise(lit(0.0)))
      .select(col("n1"), col("n2"), col("u1_x2"), col("tie_t"),
        round(col("z"), 6).as("z"),
        (abs(col("z")) > lit(1.96)).as("significant"))
  }

  /** Classical additive seasonal–trend decomposition over a daily
    * frame `daily(day, dow, y)`: trend = centered 7-day MA
    * (sum·1000 DIV 7, NULL without a full window), seasonal =
    * truncating-DIV day-of-week mean of the detrended series,
    * residual the remainder — exact integer milli throughout. Emits
    * (day, dow, y, trend_milli, seasonal_milli, residual_milli); all
    * windows run on the calendar-bounded frame. */
  def stlDecompose(daily: DataFrame): DataFrame = {
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("w_n", count(lit(1)).over(w7))
      .withColumn("w_sum", sum(col("y")).over(w7))
      .withColumn("trend_milli",
        when(col("w_n") === 7, expr("w_sum * 1000 DIV 7")))
      .withColumn("detr_milli", col("y") * 1000 - col("trend_milli"))
    val seasonal = trended.filter(col("trend_milli").isNotNull)
      .groupBy(col("dow"))
      .agg(expr("CAST(SUM(detr_milli) DIV COUNT(*) AS BIGINT)")
        .as("seasonal_milli"))
    trended.join(broadcast(seasonal), "dow")
      .select(col("day"), col("dow"), col("y"), col("trend_milli"),
        col("seasonal_milli"),
        (col("y") * 1000 - col("trend_milli") - col("seasonal_milli"))
          .as("residual_milli"))
  }

  /** DuckDB CTEs `stl_trended`, `stl_det`, `stl_seasonal` and `stl`
    * replaying [[stlDecompose]] over the relation `daily(day, dow, y)`;
    * `stl` holds its output columns. */
  def stlDecomposeSql(daily: String): String =
    s"""stl_trended AS (
        SELECT day, dow, y,
          CASE WHEN COUNT(*) OVER w = 7
            THEN CAST(SUM(y) OVER w * 1000 // 7 AS BIGINT) END AS trend_milli
        FROM $daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      stl_det AS (
        SELECT *, y * 1000 - trend_milli AS detr_milli FROM stl_trended),
      stl_seasonal AS (
        SELECT dow, CAST(SUM(detr_milli) // COUNT(*) AS BIGINT)
          AS seasonal_milli
        FROM stl_det WHERE trend_milli IS NOT NULL GROUP BY 1),
      stl AS (
        SELECT day, dow, y, trend_milli, seasonal_milli,
          y * 1000 - trend_milli - seasonal_milli AS residual_milli
        FROM stl_det JOIN stl_seasonal USING (dow))"""

  /** CUSUM changepoint over a per-key counted series
    * `daily(event_type, day, cnt)`: per key, the cumulative deviation
    * S_t = Σ_{i≤t}(x_i − x̄) carried as the exact scaled integer
    * S_t·n = n·cum_t − t·total; emits per key the argmax-|S| day
    * (earliest on ties) and the normalized magnitude. Windows run
    * per-key over the calendar-bounded day frame. */
  def cusumChangepoint(daily: DataFrame): DataFrame = {
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val scored = daily
      .withColumn("t", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n_days", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("cnt")).over(wAll))
      .withColumn("s_scaled",
        col("n_days") * col("cum") - col("t") * col("total"))
    scored.groupBy(col("event_type"), col("n_days"), col("total"))
      .agg(max(abs(col("s_scaled"))).as("s_abs_max"),
        min_by(col("day"), struct(-abs(col("s_scaled")), col("day")))
          .as("cp_day"))
      .select(col("event_type"), col("n_days").cast("long").as("n_days"),
        col("total"), col("cp_day"), col("s_abs_max"),
        round(col("s_abs_max").cast("double")
          / col("n_days").cast("double"), 6).as("s_max"))
  }
}
