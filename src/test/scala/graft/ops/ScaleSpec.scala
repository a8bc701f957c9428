package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin returns exactly the plain join's rows on skewed data") {
    // skewed left: 90% of rows share one key
    val left = ((1 to 90).map(i => ("hot", i.toLong)) ++
      (1 to 10).map(i => (s"k$i", i.toLong))).toDF("k", "v")
    val right = Seq(("hot", "H"), ("k3", "C3"), ("k7", "C7")).toDF("k", "tag")
    val plain = left.join(right, Seq("k")).select("k", "v", "tag")
      .as[(String, Long, String)].collect().toSet
    val salted = Scale.saltedJoin(left, right, Seq("k"), factor = 8,
      saltCols = Seq(col("v"))).select("k", "v", "tag")
      .as[(String, Long, String)].collect().toSet
    assert(salted == plain)
    assert(salted.count(_._1 == "hot") == 90)
  }

  test("saltedJoin left-outer keeps unmatched left rows once") {
    val left = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val right = Seq(("a", "A")).toDF("k", "tag")
    val out = Scale.saltedJoin(left, right, Seq("k"), factor = 4,
      saltCols = Seq(col("v")), joinType = "left")
      .select("k", "tag").as[(String, Option[String])].collect().toSet
    assert(out == Set(("a", Some("A")), ("b", None)))
  }

  test("saltedJoin rejects right/full outer (replicated right side would duplicate unmatched rows)") {
    val left = Seq(("a", 1L)).toDF("k", "v")
    val right = Seq(("a", "A"), ("z", "Z")).toDF("k", "tag")
    Seq("right", "right_outer", "full", "full_outer", "outer").foreach { jt =>
      val ex = intercept[IllegalArgumentException] {
        Scale.saltedJoin(left, right, Seq("k"), factor = 4,
          saltCols = Seq(col("v")), joinType = jt)
      }
      assert(ex.getMessage.contains("duplicate unmatched right-side rows"))
    }
  }

  test("compactParquet merges small files, preserves rows, and is idempotent") {
    val dir = tempDir("graft_compact").toString + "/t"
    // 16 tiny files
    spark.range(0, 1600).withColumn("v", col("id") * 2)
      .repartition(16).write.parquet(dir)
    def nFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles == 16)
    val before = spark.read.parquet(dir).as[(Long, Long)].collect().toSet
    val n = Scale.compactParquet(spark, dir, targetBytes = 10L * 1024 * 1024)
    assert(n == 1 && nFiles == 1)
    assert(spark.read.parquet(dir).as[(Long, Long)].collect().toSet == before)
    // second run: already compact, no rewrite
    assert(Scale.compactParquet(spark, dir, targetBytes = 10L * 1024 * 1024) == 1)
  }

  test("compactParquet refuses partition subdirs, even alongside flat files") {
    val dir = tempDir("graft_compact_part").toString + "/t"
    spark.range(0, 100).withColumn("k", col("id") % 2)
      .write.partitionBy("k").parquet(dir)
    // a stray flat file next to the partition dirs must not unlock the
    // rewrite: it would fold partition columns into data and flatten
    // the layout
    spark.range(0, 10).toDF("id").coalesce(1)
      .write.parquet(dir + "_flat")
    val flat = new java.io.File(dir + "_flat").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(flat.toPath,
      java.nio.file.Paths.get(dir, "stray.parquet"))
    val e = intercept[IllegalArgumentException] {
      Scale.compactParquet(spark, dir, targetBytes = 10L * 1024 * 1024)
    }
    assert(e.getMessage.contains("partition subdirectories"))
  }

  test("globalRowNumber equals the single-reducer ROW_NUMBER on shuffled input") {
    // keys inserted in scrambled order across many input partitions
    val keys = scala.util.Random.shuffle((1L to 997L).toList)
    val df = keys.toDF("k").repartition(16)
      .withColumn("payload", col("k") * 7)
    val out = Scale.globalRowNumber(df, "k", parts = 8)
      .select("k", "global_rn").as[(Long, Long)].collect().toMap
    assert(out.size == 997)
    (1L to 997L).foreach(k => assert(out(k) == k, s"key $k got ${out(k)}"))
  }

  test("globalRowNumber is contiguous 1..n and keeps payload columns") {
    val df = Seq((30L, "c"), (10L, "a"), (20L, "b")).toDF("k", "v")
    val out = Scale.globalRowNumber(df, "k", parts = 4)
      .select("k", "v", "global_rn").as[(Long, String, Long)]
      .collect().sortBy(_._3).toSeq
    assert(out == Seq((10L, "a", 1L), (20L, "b", 2L), (30L, "c", 3L)))
  }

  test("globalRowNumber plans no empty-partition window (the global funnel)") {
    val df = (1L to 100L).toDF("k")
    val plan = Scale.globalRowNumber(df, "k", parts = 4)
      .queryExecution.optimizedPlan
    // the ROW-STREAM numbering window must be partitioned; an
    // empty-partition window is tolerable only directly above an
    // Aggregate (the #partitions-row prefix sum, bounded input).
    // positive control: the naive form trips the predicate
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    def globalRowWindows(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect {
        case w: Window if w.partitionSpec.isEmpty &&
          w.child.collectFirst { case a: Aggregate => a }.isEmpty => w
      }
    assert(globalRowWindows(plan).isEmpty,
      s"found unpartitioned row-stream window in:\n${plan.treeString}")
    val naive = df.withColumn("global_rn",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("k"))))
    assert(globalRowWindows(naive.queryExecution.optimizedPlan).nonEmpty,
      "positive control: naive plan should contain an empty-partition window")
  }
}
