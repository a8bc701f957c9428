package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Confs
import graft.pipeline.Ingest

class QualifySpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    ("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 30.0),
    ("b", 4, 5.0), ("b", 5, 7.0)
  ).toDF("k", "id", "v")

  test("rowNumber keeps exactly one row per key, highest v, tiebreak id") {
    val out = Qualify.rowNumber(df, Seq(col("k")), Seq(col("v").desc, col("id")))
      .select("k", "id").as[(String, Int)].collect().toSet
    assert(out == Set(("a", 2), ("b", 5)))
  }

  test("rank keeps ties (top-1-with-ties semantics of adhoc.sql:77)") {
    val out = Qualify.rank(df, Seq(col("k")), Seq(col("v").desc))
      .select("k", "id").as[(String, Int)].collect().toSet
    assert(out == Set(("a", 2), ("a", 3), ("b", 5)))
  }

  test("rowNumber(n=2) keeps top-2 per key") {
    val out = Qualify.rowNumber(df, Seq(col("k")), Seq(col("v").desc, col("id")), n = 2)
    assert(out.count() == 4)
  }

  test("dedup yields unique keys (idempotent)") {
    val once = Qualify.dedup(df, Seq(col("k")), Seq(col("id")))
    assert(once.count() == 2)
    assert(Qualify.dedup(once, Seq(col("k")), Seq(col("id"))).count() == 2)
  }

  test("dedupAgg equals window dedup on real data (all-asc total order)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"))
    val keys = Seq(col("l_orderkey"))
    val ord = Seq(col("l_linenumber"), col("l_partkey"),
      col("l_extendedprice"), col("l_quantity"))
    val viaWindow = Qualify.dedup(li, keys, ord)
    val viaAgg = Qualify.dedupAgg(li, keys, ord)
    assert(viaAgg.columns.toSeq == viaWindow.columns.toSeq)
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty)
  }

  test("dedupAgg plan is a partial-combine hash aggregate, not a sort") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    val plan = Qualify.dedupAgg(li, Seq(col("l_orderkey")), Seq(col("l_linenumber")))
      .queryExecution.executedPlan.toString
    // partial min_by below the exchange (map-side combine), no window/sort
    assert(plan.contains("partial_min_by"), s"expected partial_min_by in:\n$plan")
    assert(!plan.contains("Window"), s"unexpected Window in:\n$plan")
  }

  test("input with a pre-existing __rn column is not clobbered") {
    val tricky = df.withColumn("__rn", lit(99))
    val out = Qualify.rowNumber(tricky, Seq(col("k")), Seq(col("id")))
    assert(out.columns.contains("__rn"))
    assert(out.select("__rn").as[Int].collect().forall(_ == 99))
  }

  // ---- file-local dedup: (id, filename) keys over multiLine CSV scans

  private val fileKeys = Seq(col("id"), col("filename"))
  private val scrapeOrder =
    Seq(col("last_scraped").desc_nulls_last, col("name").asc_nulls_last)

  private def writeCsv(dir: Path, name: String, lines: String*): String = {
    val p = dir.resolve(name)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  /** The reader's frames (one per header), aligned and unioned. */
  private def rawUnion(files: Seq[String]): DataFrame =
    Ingest.rawListingsByHeader(spark, files)
      .map(_.select("id", "last_scraped", "name", "v", "filename"))
      .reduce(_ union _)

  private def exchanges(df: DataFrame): Int =
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("file-local dedup equals the window dedup over a multi-file CSV corpus") {
    val dir = tempDir("file_local_dedup")
    val h = "id,last_scraped,name,v"
    val files = Seq(
      // in-file duplicates: newest scrape wins, a quoted multi-line
      // field, an exact duplicate row
      writeCsv(dir, "listings_a.csv", h,
        "1,2021-01-02,Alpha,a1", "1,2021-01-01,Aardvark,a2",
        "2,2021-01-05,\"two\nlines\",a3", "2,2021-01-05,\"two\nlines\",a3",
        "3,2021-01-01,Solo,a4"),
      // last_scraped ties broken by name; NULL last_scraped sorts last
      writeCsv(dir, "listings_b.csv", h,
        "1,2021-02-01,Zed,b1", "1,2021-02-01,Bravo,b2",
        "4,NULL,Early,b3", "4,2021-02-03,Late,b4",
        "5,NULL,Yankee,b5", "5,NULL,Xray,b6"),
      // another header shape: a second scan, unioned
      writeCsv(dir, "listings_c.csv", "name,id,v,last_scraped",
        "Charlie,1,c1,2021-03-01", "Delta,1,c2,2021-03-02", "Echo,6,c3,NULL"))
    // pack every file into one partition: the key still never spans two
    Confs.withConf(spark, "spark.sql.files.openCostInBytes", "0") {
      Confs.withConf(spark, "spark.sql.files.minPartitionNum", "1") {
        val raw = rawUnion(files)
        assert(raw.rdd.getNumPartitions < files.length, "files were not packed")
        val local = Qualify.dedup(raw, fileKeys, scrapeOrder)
        val window = Qualify.rowNumber(raw, fileKeys, scrapeOrder)
        assert(local.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
        assert(exchanges(local) == 0, local.queryExecution.executedPlan.toString)
        assert(exchanges(window) > 0)
        assert(local.columns.toSeq == raw.columns.toSeq)
        assert(sameRows(local, window))
        val kept = local.select("filename", "id", "v").collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
        assert(kept.size == 8)
        assert(kept(("listings_a.csv", "1")) == "a1")
        assert(kept(("listings_b.csv", "1")) == "b2") // tie on date: Bravo < Zed
        assert(kept(("listings_b.csv", "4")) == "b4") // dated beats NULL
        assert(kept(("listings_b.csv", "5")) == "b6") // all NULL: Xray < Yankee
        assert(kept(("listings_c.csv", "1")) == "c2")
      }
    }
  }

  test("file-local dedup declines non-file, splittable and basename-sharing inputs") {
    // 1. a non-file frame whose duplicates sit in different partitions
    val mem = spark.sparkContext.parallelize(Seq(
        ("1", "2021-01-01", "Old", "m1", "f.csv"),
        ("1", "2021-01-02", "New", "m2", "f.csv"),
        ("2", null, "Solo", "m3", "f.csv")), 3)
      .toDF("id", "last_scraped", "name", "v", "filename")
    val parts = mem.select("v").as[String].rdd.glom().collect().map(_.toSet)
    assert(parts.indexWhere(_("m1")) != parts.indexWhere(_("m2")))
    val memOut = Qualify.dedup(mem, fileKeys, scrapeOrder)
    assert(exchanges(memOut) > 0)
    assert(memOut.select("v").as[String].collect().toSet == Set("m2", "m3"))

    // 2. a single-line CSV scan: splittable, so one file spans splits
    val dir = tempDir("file_local_dedup_declines")
    val single = writeCsv(dir, "listings_s.csv", "id,last_scraped,name,v" +:
      (1 to 40).map(i => s"${i % 4},2021-01-${"%02d".format(i % 28 + 1)},N$i,s$i"): _*)
    Confs.withConf(spark, "spark.sql.files.maxPartitionBytes", "128") {
      Confs.withConf(spark, "spark.sql.files.openCostInBytes", "0") {
        val raw = spark.read.option("header", "true").csv(single)
          .withColumn("filename", element_at(split(input_file_name(), "/"), -1))
        assert(raw.rdd.getNumPartitions > 1, "the file was not split")
        val out = Qualify.dedup(raw, fileKeys, scrapeOrder)
        assert(exchanges(out) > 0)
        assert(sameRows(out, Qualify.rowNumber(raw, fileKeys, scrapeOrder)))
        assert(out.count() == 4)
      }
    }

    // 3. two directories holding the same basename: one key, two files
    val h = "id,last_scraped,name,v"
    val twins = Seq("x", "y").map { sub =>
      val d = Files.createDirectories(dir.resolve(sub))
      writeCsv(d, "listings.csv", h, s"1,2021-01-0${if (sub == "x") 1 else 2},N,$sub")
    }
    val raw = rawUnion(twins)
    val out = Qualify.dedup(raw, fileKeys, scrapeOrder)
    assert(exchanges(out) > 0)
    assert(sameRows(out, Qualify.rowNumber(raw, fileKeys, scrapeOrder)))
    assert(out.select("v").as[String].collect().toSeq == Seq("y"))
  }
}
