package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.FileLocalDedup

/** Snowflake `QUALIFY` surface, which OSS Spark SQL lacks.
  *
  * Reference sites: workfile_design_data_warehouse.sql:181,265 (keep-one-
  * per-key dedup) and workfile_ad-hoc_analysis.sql:77,124 (top-1 rank).
  * Implemented as sugar over `row_number`/`rank` + filter — exactly the
  * rewrite Snowflake's own planner performs; the transient rank column is
  * dropped so downstream schemas match the reference.
  *
  * Scale: one hash-partition shuffle on `partCols`, none for a
  * file-local [[dedup]]; no driver collect. Skewed keys are handled by
  * AQE (enabled session-wide).
  */
object Qualify {

  /** Transient column name guaranteed absent from `df` (an input that
    * already has a `__rn` column must not be clobbered). */
  private def freshName(df: DataFrame, base: String): String =
    Names.fresh(base.stripPrefix("__"), df.columns)

  /** QUALIFY ROW_NUMBER() OVER (PARTITION BY partCols ORDER BY orderCols) <= n */
  def rowNumber(df: DataFrame, partCols: Seq[Column], orderCols: Seq[Column],
                n: Int = 1): DataFrame = {
    val w = Window.partitionBy(partCols: _*).orderBy(orderCols: _*)
    val rn = freshName(df, "__rn")
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) <= n)
      .drop(rn)
  }

  /** QUALIFY RANK() OVER (PARTITION BY partCols ORDER BY orderCols) <= n
    * (keeps ties, per workfile_ad-hoc_analysis.sql:77). */
  def rank(df: DataFrame, partCols: Seq[Column], orderCols: Seq[Column],
           n: Int = 1): DataFrame = {
    val w = Window.partitionBy(partCols: _*).orderBy(orderCols: _*)
    val rk = freshName(df, "__rk")
    df.withColumn(rk, org.apache.spark.sql.functions.rank().over(w))
      .filter(col(rk) <= n)
      .drop(rk)
  }

  /** Keep one row per key set — the staging-layer dedup of
    * workfile_design_data_warehouse.sql:265–266. Order by `orderCols`
    * for determinism (the reference orders by the key itself, which is
    * arbitrary among true duplicates — see SURVEY §7.5.5).
    *
    * Runs as the row_number window, except where the plan proves that
    * no key group spans two partitions (unsplittable file scans and a
    * key taken from the file name, see [[graft.plans.FileLocalDedup]]):
    * there it keeps the first row per key inside each partition, with
    * no exchange. Both forms keep the same row. */
  def dedup(df: DataFrame, keys: Seq[Column], orderCols: Seq[Column]): DataFrame =
    FileLocalDedup.of(df, keys, orderCols).getOrElse(rowNumber(df, keys, orderCols, 1))

  /** Keep-one-per-key as a hash AGGREGATE instead of a window:
    * `min_by(struct(<all cols>), struct(orderCols))` per key group.
    *
    * Same result as [[dedup]] when `orderCols` is a total order within
    * each key and every direction is ascending with no nulls (struct
    * comparison is lexicographic-ascending, nulls-first like ASC NULLS
    * FIRST) — but the physical shape is the one that survives 100 TB:
    * a window dedup shuffles and SORTS every input row on `keys`,
    * while a hash aggregate partially combines map-side, so only one
    * candidate row per (mapper partition, key) reaches the shuffle and
    * nothing is ever sorted. Prefer this form for n=1 dedup at scale;
    * the window form remains for n>1 / mixed sort directions.
    */
  def dedupAgg(df: DataFrame, keys: Seq[Column], orderCols: Seq[Column]): DataFrame = {
    val kept = freshName(df, "__kept")
    df.groupBy(keys: _*)
      .agg(min_by(struct(df.columns.map(col): _*), struct(orderCols: _*)).as(kept))
      .select(col(s"$kept.*"))
  }
}
