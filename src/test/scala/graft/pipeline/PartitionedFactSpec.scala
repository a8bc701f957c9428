package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Cluster-scale materialization: the fact written partitioned by
  * (file_year, file_month) must partition-prune month-scoped reads at
  * the planner — the property that makes a single-month KPI refresh
  * O(month) instead of O(fact) at 100 TB.
  */
class PartitionedFactSpec extends SparkSpec {

  test("partitioned fact write prunes month-scoped scans") {
    val fixtures = tempDir("pf_fixtures")
    Fixtures.writeAll(fixtures)
    val t = AirbnbPipeline.run(spark, fixtures.toString)

    val out = tempDir("pf_fact").toString + "/fact"
    Warehouse.writeFact(t.factListing, out)

    val all = spark.read.parquet(out)
    assert(all.count() == t.factListing.count())

    val oneMonth = all.filter(col("file_year") === 2021 && col("file_month") === 1)
    assert(oneMonth.count() == 5) // ids 1,4,6,7,8

    // pruning is visible in the scan: partition filters present, and the
    // selected files all come from the 2021/01 partition directory
    val plan = oneMonth.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    assert(plan.contains("(file_year") && plan.contains("(file_month"))
    val scanned = oneMonth.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(scanned.nonEmpty &&
      scanned.forall(f => f.contains("file_year=2021") && f.contains("file_month=1")))
  }

  test("writeFact bounds output files per month partition (no small-files explosion)") {
    val fixtures = tempDir("pf_fixtures2")
    Fixtures.writeAll(fixtures)
    val t = AirbnbPipeline.run(spark, fixtures.toString)

    // write from a deliberately over-parallel upstream (32 tasks would
    // naively emit up to 32 files per month dir); clustering must cap it
    val out = tempDir("pf_files").toString + "/fact"
    Warehouse.writeFact(t.factListing.repartition(32), out, filesPerMonth = 2)

    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
    assert(dirs.nonEmpty)
    for (y <- dirs; m <- y.listFiles().filter(_.isDirectory)) {
      val files = m.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length <= 2, s"${m.getPath}: ${files.length} files")
    }
    // and the write is lossless
    assert(spark.read.parquet(out).count() == t.factListing.count())
  }
}
