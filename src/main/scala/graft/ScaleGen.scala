package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Confs

/** 10×-corpus generator for the full-registry scale step: writes a
  * `factor`×-scaled copy of an sf directory, preserving each table's
  * STRUCTURE under growth (usage: `graft.ScaleGen <sfDir> <outDir>
  * [factor]`).
  *
  * Scaling rules (replica i of `factor`):
  *   - region/nation: fixed — dimension tables don't grow with SF.
  *   - customer/supplier/part/orders/lineitem: keys shifted by
  *     i·10^9 so replicas stay disjoint AND join integrity holds
  *     (orders.o_custkey shifts with customer, lineitem.l_orderkey with
  *     orders, etc. — every join key shifts by the same stride).
  *   - events: event_id and user_id shifted — users scale with SF, so
  *     per-user session/retention structure stays constant.
  *   - documents: doc_id shifted and every TOKEN suffixed `_r<i>` — a
  *     bijection of the token space, so within-replica shingle/Jaccard/
  *     minhash structure is IDENTICAL to the original while replicas
  *     share zero shingles (near-dup pair output grows linearly, the
  *     correct regime for an SF step; the quadratic-duplication regime
  *     is the separate 10×-dup stress corpus in README).
  *   - embeddings: vec_id shifted, components nudged by i·1e-3 to
  *     avoid artificial exact ties in top-k ranking.
  */
object ScaleGen {
  private val Stride = 1000000000L

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = LocalSession()

    def src(t: String): DataFrame = spark.read.parquet(s"$sfDir/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      // the explode multiplies rows IN PLACE within the source's (few)
      // input partitions; at factor>=100 that leaves a 100x-sized table
      // in single-digit partitions — rebalance so generation and every
      // later scan parallelize
      val out = if (factor >= 20) df.repartition(LocalSession.cpus * 2) else df
      out.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scalegen] $t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }
    /** factor× replication with selected long keys shifted per replica. */
    def replicate(df: DataFrame, shiftKeys: Seq[String],
                  extra: (DataFrame, org.apache.spark.sql.Column) => DataFrame =
                    (d, _) => d): DataFrame = {
      val rep = df.withColumn("__r", explode(lit((0 until factor).toArray)))
      val shifted = shiftKeys.foldLeft(rep) { (d, k) =>
        d.withColumn(k, col(k) + col("__r").cast("long") * Stride)
      }
      extra(shifted, col("__r")).drop("__r")
    }

    write("region", src("region"))
    write("nation", src("nation"))
    write("customer", replicate(src("customer"), Seq("c_custkey")))
    write("supplier", replicate(src("supplier"), Seq("s_suppkey")))
    write("part", replicate(src("part"), Seq("p_partkey")))
    write("orders", replicate(src("orders"), Seq("o_orderkey", "o_custkey")))
    write("lineitem", replicate(src("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")))
    // events.parquet stores ts as INT64 TIMESTAMP(NANOS), which the
    // plain reader rejects — read it as a raw long (scoped legacy conf,
    // same discipline as Tables.events) and write it back as a plain
    // INT64, which Tables.events handles identically (`ts div 1000`)
    val eventsRaw =
      Confs.withConf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true") {
        val d = src("events"); d.schema; d
      }
    write("events", replicate(eventsRaw, Seq("event_id", "user_id")))
    write("documents", replicate(src("documents"), Seq("doc_id"),
      (d, r) => d.withColumn("text",
        when(col("text").isNotNull && r > 0,
          regexp_replace(col("text"), lit("([^ ]+)"),
            concat(lit("$1_r"), r.cast("string"))))
          .otherwise(col("text")))))
    write("embeddings", replicate(src("embeddings"), Seq("vec_id"),
      (d, r) => d.withColumn("embedding",
        when(col("embedding").isNotNull,
          transform(col("embedding"),
            x => x + r.cast("float") * lit(0.001f)))
          .otherwise(col("embedding")))))
    spark.stop()
  }
}
