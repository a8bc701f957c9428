package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The graph inputs the graph-tier queries share, each derived once for
  * Spark and once as DuckDB CTEs, so a query's plan and its oracle read
  * the same edge list.
  */
private[queries] object GraphFixtures {

  /** Distinct directed customer→supplier trade edges of
    * orders ⋈ lineitem: (src = 2·o_custkey, dst = 2·l_suppkey + 1).
    * Customers take even node ids and suppliers odd ones. */
  def trade(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()

  /** [[trade]] plus its reversed copy. The even/odd id spaces are
    * disjoint, so the two directions cannot collide: the union is
    * already distinct. */
  def tradeSym(s: SparkSession, d: String): DataFrame = {
    val t = trade(s, d)
    t.unionByName(t.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** CTE `trade (src, dst)`: [[trade]]. */
  val tradeSql: String =
    """trade AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey)"""

  /** CTEs `trade` and `trade_sym (src, dst)`: [[tradeSym]]. */
  val tradeSymSql: String =
    s"""$tradeSql,
    trade_sym AS (
      SELECT src, dst FROM trade
      UNION ALL SELECT dst, src FROM trade)"""

  /** Every customer and supplier node, labelled by its nation:
    * (node, label), node ids as in [[trade]]. */
  def nationLabels(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select((col("c_custkey") * 2).as("node"),
        col("c_nationkey").cast("long").as("label"))
      .unionByName(Tables.supplier(s, d)
        .select((col("s_suppkey") * 2 + 1).as("node"),
          col("s_nationkey").cast("long").as("label")))

  /** CTE `labels (node, label)`: [[nationLabels]]. */
  val nationLabelsSql: String =
    """labels AS (
      SELECT c_custkey * 2 AS node, CAST(c_nationkey AS BIGINT) AS label
      FROM customer
      UNION ALL
      SELECT s_suppkey * 2 + 1 AS node, CAST(s_nationkey AS BIGINT)
      FROM supplier)"""

  /** The co-purchase graph: parts appearing together in one order,
    * restricted to heavy line items (quantity ≥ 45) so the graph
    * stays sparse at any scale. Distinct undirected edges as canonical
    * `(a, b)` part-key pairs with `a < b`. */
  def coPurchase(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).filter(col("l_quantity") >= 45)
    val l1 = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pa"))
    val l2 = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pb"))
    l1.join(l2, Seq("ok")).filter(col("pa") < col("pb"))
      .select(col("pa").as("a"), col("pb").as("b")).distinct()
  }

  /** CTE `co_purchase (a, b)`: [[coPurchase]]. */
  val coPurchaseSql: String =
    """co_purchase_items AS (
      SELECT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_quantity >= 45),
    co_purchase AS (
      SELECT DISTINCT x.pk AS a, y.pk AS b
      FROM co_purchase_items x JOIN co_purchase_items y
        ON x.ok = y.ok AND x.pk < y.pk)"""
}
