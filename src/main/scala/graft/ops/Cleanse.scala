package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions

/** Scalar cleansing functions covering the reference's full scalar surface
  * (SURVEY §2.8, F1–F12). All are thin compositions of codegen'd builtins
  * or graft's native expressions — no UDFs — so they stay inside
  * whole-stage codegen.
  */
object Cleanse {

  /** F1: SPLIT_PART(str, delim, n) incl. negative n (last part) —
    * workfile_design_data_warehouse.sql:142,451–455. Builtin since 3.3. */
  def splitPart(c: Column, delim: String, n: Int): Column =
    split_part(c, lit(delim), lit(n))

  /** F4 + price parsing: '$1,234.00' -> 1234.00, null on failure —
    * workfile_design_data_warehouse.sql:228 (SPLIT_PART(price,'$',2) +
    * TRY_CAST ... AS NUMERIC). Commas stripped first. */
  def parsePrice(c: Column): Column =
    regexp_replace(split_part(c, lit("$"), lit(-1)), lit(","), lit(""))
      .try_cast(DecimalType(12, 2))

  /** F3: the suburb-normalization REPLACE chain —
    * workfile_design_data_warehouse.sql:451–453: upper + trim + strip
    * 'COUNCIL'/'CITY OF'/'OF THE', map 'SAINT '->'ST '. */
  def normSuburb(c: Column): Column = {
    val upped = upper(trim(c))
    val stripped = Seq("COUNCIL", "CITY OF", "OF THE")
      .foldLeft(upped)((acc, s) => regexp_replace(acc, lit(s), lit("")))
    trim(regexp_replace(stripped, lit("SAINT "), lit("ST ")))
  }

  /** NULL-spelling normalization for CSV ingest — the multi-valued NULL_IF
    * ('\\N','NULL','NUL','') of workfile_design_data_warehouse.sql:38–44.
    * Spark's csv reader takes a single nullValue, so the rest normalize
    * post-read. One compiled kernel call per string column (the
    * [[GraftFunctions.nullIfSpelling]] kernel), the same values as
    * `CASE WHEN c IN ('\\N','NULL','NUL','') THEN NULL ELSE c END`. */
  def normNulls(c: Column): Column = GraftFunctions.nullIfSpelling(c)

  /** F8 NULL->sentinel defaults ('OTHER'/'MISSING') —
    * workfile_design_data_warehouse.sql:473–476,525,537. */
  def defaultIfNull(c: Column, sentinel: String): Column =
    coalesce(c, lit(sentinel))

  /** F8 large literal mapping tables (suburb->LGA fixups,
    * workfile_design_data_warehouse.sql:477–529) as one chained CASE
    * WHEN, which stays codegen'd for a ~25-branch map. */
  def literalMap(c: Column, mapping: Seq[(String, String)], default: Column): Column =
    mapping.foldRight(default) { case ((k, v), acc) => when(c === k, lit(v)).otherwise(acc) }

  /** F6/F7: snapshot month bounds — file_date = make_date(y,m,1), month end
    * via last_day (workfile_design_data_warehouse.sql:447,543). */
  def monthStart(year: Column, month: Column): Column = make_date(year, month, lit(1))
  def withinMonthOf(d: Column, fileDate: Column): Column =
    d >= fileDate && d <= last_day(fileDate)
}
