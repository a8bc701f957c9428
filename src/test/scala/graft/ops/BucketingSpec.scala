package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Confs, Tables}

/** Bucketing: the co-located-join seam for repeated large joins
  * (SURVEY §4 / the 100 TB posture). Two tables bucketed+sorted on the
  * join key join WITHOUT a shuffle — at cluster scale this converts the
  * per-query orders⋈customer shuffle into a one-time layout cost.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed tables join without an exchange on the bucketed key") {
    val o = Tables.orders(spark, sf001).select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.customer(spark, sf001).select("c_custkey", "c_mktsegment")
    o.write.bucketBy(4, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("bkt_orders")
    c.write.bucketBy(4, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("bkt_customer")

    // disable broadcast so the join would otherwise need a shuffle
    Confs.withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1") {
      val joined = spark.table("bkt_orders")
        .join(spark.table("bkt_customer"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n${plan.take(800)}")
      // and it computes the same rows as the unbucketed join
      val expected = o.join(c, col("o_custkey") === col("c_custkey")).count()
      assert(joined.count() == expected)
    }
  }
}
