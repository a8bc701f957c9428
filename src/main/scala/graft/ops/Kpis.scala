package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Exact

/** KPI-layer aggregate builders mirroring the reference datamart views
  * (workfile_populate_data_warehouse.py:507–925).
  */
object Kpis {

  /** Month-over-month percentage change of a metric via LAG over a
    * grouped series — workfile_populate_data_warehouse.py:569–570.
    * "Previous row", not "previous calendar month": gaps are NOT filled,
    * matching the reference exactly (SURVEY §7.5.3).
    *
    * Inputs should be one row per (partCols, orderCols) — an aggregated
    * series — so the window shuffle is on the small aggregated data,
    * not the fact table. Where ties DO occur (the per-arm split rows of
    * a NULL-keyed KPI group share their month), pass `tieBreak` columns
    * that totally order them: LAG over tied rows is nondeterministic in
    * any engine (the reference's included), and a fixed tiebreak
    * refines that into a reproducible output. */
  def lagPctChange(df: DataFrame, partCols: Seq[String], orderCols: Seq[String],
                   metric: String, as: String,
                   tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(orderCols.map(col) ++ tieBreak: _*)
    val prev = lag(col(metric), 1).over(w)
    // (cur - prev) / prev * 100 in double, identical expression shape to
    // the oracle SQL so the FP result is bit-identical.
    df.withColumn(as,
      (col(metric).cast("double") - prev.cast("double")) / prev.cast("double") * lit(100.0))
  }

  /** The reference's self-join-of-aggregates pattern (J5): N independently
    * filtered+grouped aggregates of the same fact, FULL OUTER joined back
    * together on the grouping keys (workfile_populate_data_warehouse.py:552–619).
    *
    * `USING`-style join so the key columns coalesce across sides. At scale
    * each aggregate is small relative to the fact; Spark shuffles each
    * aggregate once on the keys and AQE picks SMJ/shuffled-hash (broadcast
    * is unavailable for full-outer).
    */
  def fullOuterOfAggs(keys: Seq[String], aggs: Seq[DataFrame]): DataFrame =
    aggs.reduce((a, b) => a.join(b, keys, "full_outer"))

  /** One arm of [[fullOuterOfAggsOnePass]]: an optional row filter, the
    * name of the arm's COUNT(*) column, and (name, money column) pairs
    * summed exactly over the arm's rows. */
  final case class AggArm(pred: Option[Column], cntName: String,
                          sums: Seq[(String, Column)])

  /** One-pass equivalent of the reference's KPI pattern — N filtered
    * aggregates of the SAME input full-outer-joined on the grouping keys
    * (workfile_populate_data_warehouse.py:552–619) — as a single grouped
    * conditional aggregation.
    *
    * Identical output to [[fullOuterOfAggs]] over the same arms
    * (including NULL grouping keys — see [[fullOuterOfAggsOnePassArms]]
    * for how): an arm's columns are null exactly where the join would
    * have produced an unmatched side (no rows satisfy the arm's
    * filter), and groups matching NO arm are dropped, like keys absent
    * from every join input. The physical win is the point: the join
    * form scans the fact N times and shuffles N aggregates plus N−1
    * joins; this scans ONCE and shuffles ONCE (map-side partial
    * aggregation) — the rewrite a 100 TB KPI view needs. KpisSpec
    * proves output equality on real data with a sparse arm.
    */
  def fullOuterOfAggsOnePass(df: DataFrame, keys: Seq[Column],
                             arms: Seq[AggArm]): DataFrame =
    fullOuterOfAggsOnePassArms(df, keys, arms.map(a => Arm(
      a.pred,
      masked => (a.cntName -> count(masked(lit(1)))) +:
        a.sums.map { case (n, v) => n -> Exact.sumMoney(masked(v)) },
      zeroWhenEmpty = Set(a.cntName))))

  /** Generalized arm for [[fullOuterOfAggsOnePassArms]]: `build` receives
    * a `masked` function that nulls its argument outside the arm's rows
    * and returns the arm's named aggregates. Aggregates that yield 0
    * (not null) over an empty arm — count, `Exact.countDistinct` — must be
    * listed in `zeroWhenEmpty` so they null out exactly where the join
    * form's unmatched side would. Null-ignoring aggregates (min / max /
    * median / sum / avg) need no declaration: all-null input already
    * yields null. */
  final case class Arm(pred: Option[Column],
                       build: (Column => Column) => Seq[(String, Column)],
                       zeroWhenEmpty: Set[String] = Set.empty)

  /** [[fullOuterOfAggsOnePass]] for ARBITRARY aggregates per arm (the
    * KPI views need median / exact distinct count / exact avg, not just count
    * + sum). Same output as [[fullOuterOfAggs]] over the same arms —
    * for ANY keys, nullable included; one scan + one map-side-
    * combinable shuffle instead of N scans + N−1 full-outer joins.
    *
    * NULL-key semantics (where a naive groupBy rewrite diverges): SQL
    * equality never matches NULL, so the chained full-outer join emits
    * one row PER MATCHED ARM for a group whose key tuple contains any
    * NULL (each row carrying that arm's columns, the others null),
    * while groupBy treats NULL as an ordinary value and would merge
    * them into one row. We reproduce the join exactly by splitting
    * AFTER aggregating: each NULL-keyed output group explodes into one
    * row per arm with rows, with the other arms' columns nulled. The
    * split runs over already-aggregated data — one row per (group,
    * arm) — so the fact is still scanned once and shuffled once;
    * KpisSpec pins equality with the join form on null, partially-null
    * and non-null keys. */
  def fullOuterOfAggsOnePassArms(df: DataFrame, keys: Seq[Column],
                                 arms: Seq[Arm]): DataFrame = {
    def cntCol(i: Int) = s"__arm_cnt_$i"
    // build ONCE per arm: names for the output projection and exprs for
    // the aggregate must come from the same invocation
    val built = arms.zipWithIndex.map { case (arm, i) =>
      def masked(v: Column) = arm.pred.map(p => when(p, v)).getOrElse(v)
      val named = arm.build(masked)
      val unknown = arm.zeroWhenEmpty -- named.map(_._1).toSet
      require(unknown.isEmpty,
        s"zeroWhenEmpty names not produced by the arm: ${unknown.mkString(", ")}")
      (arm, i, named)
    }
    val valueNames = built.flatMap(_._3.map(_._1))
    require(!valueNames.exists(n => n == "__keep" || n == "__row"),
      "arm output names __keep/__row are reserved")
    val aggCols = built.flatMap { case (_, i, named) =>
      val maskedOne = arms(i).pred.map(p => when(p, lit(1))).getOrElse(lit(1))
      count(maskedOne).as(cntCol(i)) +: named.map { case (n, c) => c.as(n) }
    }
    val agged = df.groupBy(keys: _*).agg(aggCols.head, aggCols.tail: _*)
    val keyNames = agged.columns.take(keys.size)
    // the output value columns, either merged (all arms' values in one
    // row — the non-null-key case) or restricted to a single arm with
    // the others' columns nulled (one per-arm row of a NULL-keyed group)
    def valueCols(onlyArm: Option[Int]): Seq[Column] = built.flatMap {
      case (arm, i, named) =>
        named.map { case (n, _) =>
          if (onlyArm.exists(_ != i))
            lit(null).cast(agged.schema(n).dataType).as(n)
          else if (arm.zeroWhenEmpty.contains(n))
            // an empty arm = the join's unmatched side → all-null columns
            when(col(cntCol(i)) === 0, lit(null)).otherwise(col(n)).as(n)
          else col(n).as(n)
        }
    }
    val mergedRow = struct(lit(true).as("__keep") +: valueCols(None): _*)
    val armRows = arms.indices.map(i =>
      struct((col(cntCol(i)) > 0).as("__keep") +: valueCols(Some(i)): _*))
    val anyKeyNull = keyNames.map(col(_).isNull).reduce(_ || _)
    agged
      // a group no arm matched does not exist in any join input → drop
      .filter(arms.indices.map(i => col(cntCol(i)) > 0).reduce(_ || _))
      .withColumn("__row", explode(filter(
        when(anyKeyNull, array(armRows: _*)).otherwise(array(mergedRow)),
        r => r.getField("__keep"))))
      .select(keyNames.map(col) ++
        valueNames.map(n => col("__row").getField(n).as(n)): _*)
  }

  /** Global best/worst row pick (W2, workfile_ad-hoc_analysis.sql:17–23)
    * WITHOUT a single-partition window.
    *
    * The literal translation — `ROW_NUMBER() OVER (ORDER BY metric)` with
    * no PARTITION BY — moves the entire table through one task (Spark
    * even warns); at 100 TB that is a non-starter. Equivalent distributed
    * shape:
    *   1. best = orderBy(desc).limit(1), worst = orderBy(asc).limit(1) —
    *      both compile to TakeOrderedAndProject (per-partition top-1 +
    *      driver merge of #partitions rows, no shuffle);
    *   2. the surviving rows' ranks in the OPPOSITE direction are
    *      rank = #rows strictly ahead + 1 — ONE conditional-aggregate
    *      scan against the two broadcast 1-row extremes.
    * Output matches `QUALIFY rk_best = 1 OR rk_worst = 1` exactly,
    * including rank values and the best==worst degenerate case.
    *
    * `tiebreak` must be unique per row (the reference uses the PK), every
    * direction's tiebreak is ascending, and `metric`/`tiebreak` must be
    * non-null — same preconditions under which the window form is
    * deterministic at all.
    */
  def globalBestWorst(df: DataFrame, metric: String, tiebreak: String): DataFrame = {
    val m = col(metric)
    val k = col(tiebreak)
    val best = df.orderBy(m.desc, k.asc).limit(1)
    val worst = df.orderBy(m.asc, k.asc).limit(1)
    val extremes = broadcast(
      best.select(m.as("__bm"), k.as("__bk"))
        .crossJoin(worst.select(m.as("__wm"), k.as("__wk"))))
    // rank of best under ASC order and of worst under DESC order, in one pass
    val ranks = df.crossJoin(extremes).agg(
      (sum(when(m < col("__bm") || (m === col("__bm") && k < col("__bk")), 1L)
        .otherwise(0L)) + 1L).cast("int").as("__rk_worst_of_best"),
      (sum(when(m > col("__wm") || (m === col("__wm") && k < col("__wk")), 1L)
        .otherwise(0L)) + 1L).cast("int").as("__rk_best_of_worst"))
    val outCols = df.columns.map(col) :+ col("rk_best") :+ col("rk_worst")
    best.crossJoin(broadcast(ranks))
      .withColumn("rk_best", lit(1))
      .withColumnRenamed("__rk_worst_of_best", "rk_worst")
      .select(outCols: _*)
      .unionByName(
        worst.crossJoin(broadcast(ranks))
          .withColumnRenamed("__rk_best_of_worst", "rk_best")
          .withColumn("rk_worst", lit(1))
          .select(outCols: _*))
      .distinct() // best == worst collapses to one row, as QUALIFY does
  }

  /** One-pass conditional-aggregation rewrite of the reference's repeated
    * scalar-subquery scans (workfile_ad-hoc_analysis.sql:183–187):
    * 5 x (SELECT COUNT(*) FROM cte WHERE pred) becomes a single scan with
    * sum(when(pred,1)). Oracle-equivalent, one shuffle instead of five. */
  def conditionalCounts(df: DataFrame, preds: Map[String, Column]): DataFrame = {
    // count(when(p, 1)) not sum(when(p, 1, 0)): COUNT is 0 on empty
    // input, like the scalar subqueries this rewrites; SUM would be null
    val cols = preds.toSeq.sortBy(_._1).map { case (name, p) =>
      count(when(p, lit(1))).as(name)
    }
    df.agg(cols.head, cols.tail: _*)
  }
}
