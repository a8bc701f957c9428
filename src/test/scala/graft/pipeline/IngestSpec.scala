package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.graft.ListenerBusBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The grouped listings reader: headers read on the driver, one scan
  * per distinct header, rows identical to Spark's own per-file header
  * inference. */
class IngestSpec extends SparkSpec {

  /** The three Fixtures headers (74, 106 mixed-case, 102 columns), each
    * written under three month names: nine files, three header shapes. */
  private lazy val nineFiles: Path = {
    val dir = tempDir("ingest_fixtures")
    Fixtures.writeAll(dir)
    for ((f, copies) <- Seq(
           "listings_01_2021.csv" -> Seq("02_2021", "03_2021"),
           "listings_05_2020.csv" -> Seq("06_2020", "08_2020"),
           "listings_07_2020.csv" -> Seq("09_2020", "10_2020"));
         month <- copies) {
      Files.copy(dir.resolve(f), dir.resolve(s"listings_$month.csv"))
    }
    dir
  }

  private def listingFiles(dir: Path): Seq[String] =
    Ingest.listFiles(spark, dir.toString, "*listings*.csv")

  /** Spark's own header inference on one file, shaped as the reader
    * shapes its output. */
  private def inferred(file: String): DataFrame = {
    val df = spark.read
      .option("header", "true").option("multiLine", "true")
      .option("quote", "\"").option("escape", "\"")
      .option("nullValue", "NULL")
      .csv(file)
    df.toDF(df.columns.map(_.toLowerCase): _*)
      .withColumn("filename", element_at(split(input_file_name(), "/"), -1))
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def write(dir: Path, name: String, text: String): String = {
    val p = dir.resolve(name)
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  test("grouped read equals Spark's per-file header inference, row for row") {
    val files = listingFiles(nineFiles)
    assert(files.length == 9)
    val grouped = Ingest.rawListingsByHeader(spark, files)
    assert(grouped.length == 3)
    files.foreach { f =>
      val name = f.substring(f.lastIndexOf('/') + 1)
      val want = inferred(f)
      val g = grouped.filter(_.columns.sameElements(want.columns))
      assert(g.length == 1, s"$name: no single group with its columns")
      assert(want.count() > 0)
      assert(sameRows(g.head.filter(col("filename") === name), want), name)
    }
  }

  test("quoted header names match Spark's inference: comma, doubled quote, empty, duplicate, NULL") {
    val dir = tempDir("ingest_quoted")
    val f = write(dir, "listings_01_2021.csv",
      "\"a,b\",\"say \"\"hi\"\"\",,Dup,dup,NULL,id\n" +
        "1,\"x, \"\"y\"\"\",2,3,4,5,6\n" +
        "7,\"multi\nline\",8,9,10,11,12\n")
    val got = Ingest.rawListings(spark, f)
    val want = inferred(f)
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.columns.toSeq.take(2) == Seq("a,b", "say \"hi\""))
    assert(sameRows(got, want))
  }

  test("zero-byte and header-only files contribute no rows") {
    val dir = tempDir("ingest_empty")
    Fixtures.writeAll(dir)
    write(dir, "listings_02_2021.csv", "")
    write(dir, "listings_03_2021.csv", Files.readAllLines(
      dir.resolve("listings_01_2021.csv")).get(0) + "\n")
    val full = Staging.listingFromDir(spark, dir.toString)
    assert(full.count() == 12)
    assert(full.filter(col("filename").isin("listings_02_2021.csv", "listings_03_2021.csv"))
      .isEmpty)
    val zero = Ingest.rawListings(spark, dir.resolve("listings_02_2021.csv").toString)
    assert(zero.columns.toSeq == Seq("filename") && zero.isEmpty)
  }

  test("a directory of zero-byte listings files stages to an empty frame") {
    val dir = tempDir("ingest_all_empty")
    write(dir, "listings_01_2021.csv", "")
    write(dir, "listings_02_2021.csv", "")
    val st = Staging.listingFromDir(spark, dir.toString)
    assert(st.columns.length == 75)
    assert(st.isEmpty)
  }

  test("a file whose header changed after grouping fails the scan") {
    val dir = tempDir("ingest_guard")
    val a = write(dir, "listings_01_2021.csv", "id,name\n1,a\n")
    val b = write(dir, "listings_02_2021.csv", "id,name\n2,b\n")
    val Seq(df) = Ingest.rawListingsByHeader(spark, Seq(a, b))
    write(dir, "listings_02_2021.csv", "name,id\nb,2\n")
    val e = intercept[Exception](df.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("header")), e.toString)
  }

  private def fileRelations(df: DataFrame): Seq[HadoopFsRelation] =
    df.queryExecution.optimizedPlan
      .collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r }

  /** The frame `build` returns, and the ids of the Spark jobs building
    * it started. A scan whose schema is not given runs a job to infer it
    * from the file's header. */
  private def withJobs(group: String)(build: => DataFrame): (DataFrame, Seq[Int]) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val df = try build finally sc.clearJobGroup()
    ListenerBusBridge.drain(sc)
    (df, sc.statusTracker.getJobIdsForGroup(group).toSeq)
  }

  test("plan shape: listingFromDir scans once per distinct header and runs no job to build") {
    val (staged, jobs) = withJobs("ingest-spec-grouped")(Staging.listingFromDir(spark, nineFiles.toString))
    assert(jobs.isEmpty, s"building the staging frame ran jobs $jobs")
    val relations = fileRelations(staged)
    assert(relations.length == 3)
    val scanned = relations.map(_.location.inputFiles.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet)
    assert(scanned.map(_.size) == Seq(3, 3, 3))
    assert(scanned.reduce(_ ++ _).size == 9)
    // control: the detector sees the job of an inferred scan
    val (_, inferJobs) = withJobs("ingest-spec-inferred")(inferred(listingFiles(nineFiles).head))
    assert(inferJobs.nonEmpty)
  }
}
