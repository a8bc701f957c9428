package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, DecimalType}
import org.apache.spark.sql.{Column, functions => F}

/** Parquet table loaders for the driver testdata plus shared
  * numeric-exactness helpers used by every oracle-checked query.
  *
  * Scale posture: all readers are plain `spark.read.parquet` scans so
  * Catalyst owns predicate pushdown / column pruning; nothing here
  * collects to the driver.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** events.parquet has shipped `ts` under three physical types across
    * testdata generations: INT64 TIMESTAMP(NANOS) (which Spark's parquet
    * reader rejects outright, [PARQUET_TYPE_ILLEGAL]), plain
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ since
    * `inferTimestampNTZ` defaults on), and raw INT64 nanos (Spark-written
    * scale corpora). Normalize all three to a microsecond TimestampType
    * column so every downstream query/oracle sees one type. */
  /** True iff `e` or any cause is Spark's PARQUET_TYPE_ILLEGAL error.
    * Primary check is the structured error class (survives wrapping and
    * message rewording across Spark versions); the message substring is
    * kept only as a fallback for non-SparkThrowable wrappers. */
  private def isParquetTypeIllegal(e: Throwable): Boolean = {
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists {
      case st: org.apache.spark.SparkThrowable =>
        st.getCondition == "PARQUET_TYPE_ILLEGAL" ||
          (st.getMessage != null && st.getMessage.contains("PARQUET_TYPE_ILLEGAL"))
      case t =>
        t.getMessage != null && t.getMessage.contains("PARQUET_TYPE_ILLEGAL")
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // the NTZ->LTZ cast below is instant-preserving ONLY in a UTC session;
    // fail loudly at load time rather than silently shifting every event
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "Tables.events requires spark.sql.session.timeZone=UTC (the TimestampNTZ->" +
        "Timestamp normalization is instant-preserving only under UTC); got " +
        spark.conf.get("spark.sql.session.timeZone"))
    val df =
      try { val d = load(spark, dir, "events"); d.schema; d } // force inference
      catch {
        case e: Exception if isParquetTypeIllegal(e) =>
          // nanos file: re-read with the legacy long conf, SCOPED to the
          // eager schema inference — leaving it set session-wide would
          // silently turn every LATER nanos-timestamped parquet read in
          // the session into LongType
          Confs.withConf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true") {
            val d = load(spark, dir, "events"); d.schema; d
          }
      }
    df.schema("ts").dataType match {
      case LongType =>
        // `div` = integral long division: `/` would promote to double,
        // whose 53-bit mantissa cannot hold epoch nanos (~2^60) — the
        // ±128ns representation error can push a boundary-exact timestamp
        // 1µs low, flipping its window/second bucket vs the exact oracle
        df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
      case TimestampNTZType =>
        // naive micros; the UTC-pinned session makes the LTZ cast carry
        // the identical microsecond instant (same value DuckDB reads)
        df.withColumn("ts", F.col("ts").cast(TimestampType))
      case TimestampType => df
      case other =>
        // a malformed corpus (string/int ts) must fail here with a clear
        // message, not as a confusing analysis error three operators later
        throw new IllegalStateException(
          s"events.parquet in $dir has unexpected ts type $other; expected " +
            "INT64 nanos, TIMESTAMP_NTZ micros, or TIMESTAMP micros")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}

/** Exact-arithmetic aggregate builders.
  *
  * Double aggregation is order-dependent, and Spark's partial/final
  * aggregation order differs from any single-threaded oracle — so a raw
  * `sum(double)` can never be bit-compared across engines. Every money
  * aggregate therefore runs through exact DECIMAL arithmetic internally
  * (order-independent) and casts to DOUBLE only at the very end, which
  * is bit-identical in Spark and DuckDB given identical exact inputs.
  */
object Exact {
  private val Money: DataType = DecimalType(18, 2)
  private val Rate: DataType = DecimalType(4, 2)

  /** Exact sum of a 2-decimal money column, emitted as double. */
  def sumMoney(c: Column): Column = F.sum(c.cast(Money)).cast("double")

  /** Exact COUNT(DISTINCT c) as the size of c's value set. It skips
    * nulls and gives 0 over no rows, as COUNT(DISTINCT) does, but it is
    * an ordinary aggregate. `countDistinct` makes Spark plan the whole
    * aggregation twice, with one more shuffle between, and with an
    * `Expand` of every row once two distinct arguments appear. */
  def countDistinct(c: Column): Column = F.size(F.collect_set(c)).cast("long")

  /** Exact average of a 2-decimal money column, emitted as double:
    * exact decimal sum -> double, divided by count (both bit-stable). */
  def avgMoney(c: Column): Column =
    F.sum(c.cast(Money)).cast("double") / F.count(c)

  /** Exact revenue sum: x * (1 - d) with 2-decimal x and d. */
  def sumRevenue(x: Column, d: Column): Column =
    F.sum(x.cast(Money) * (F.lit(1).cast(Rate) - d.cast(Rate))).cast("double")

  /** SQL fragments for the DuckDB oracle mirroring the above. */
  def sumMoneySql(c: String): String =
    s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"
  def avgMoneySql(c: String): String =
    s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) / COUNT($c)"
  def sumRevenueSql(x: String, d: String): String =
    s"CAST(SUM(CAST($x AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST($d AS DECIMAL(4,2)))) AS DOUBLE)"
}
