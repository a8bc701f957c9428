package graft.pipeline

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.CodecStreams
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ops.Cleanse

/** Raw-layer ingestion: the reference's external tables over a cloud
  * stage (design.sql:28–128) restated as Spark CSV scans.
  *
  * - filename-pattern scans (S1): a driver-side glob listing
  *   ([[listFiles]]), so pruning happens at file listing, before any
  *   bytes are read
  * - header probe (S4, design.sql:54–95): each file's first record is
  *   read on the driver ([[header]]) and becomes an explicit all-string
  *   schema, so building a scan runs no schema-inference job
  * - CSV options (S2): header skip, quote/escape `"`, multiline quoted
  *   fields (descriptions contain newlines), one nullValue spelling at
  *   parse time — the remaining NULL_IF spellings of design.sql:38–44
  *   are normalized post-read (Cleanse.normNulls), since Spark's reader
  *   takes a single null token
  * - file identity (metadata$filename, design.sql:263): input_file_name()
  *
  * Scale posture: the monthly listing files are grouped by header and
  * each distinct header is ONE multi-file scan — Spark parallelizes by
  * file/split. The only driver-side per-file work is the listing and
  * one first-record read per monthly scrape, never per data split.
  */
object Ingest {

  /** The raw CSV options. Every scan and the driver-side header read
    * use them, so a header tokenizes exactly as the scan skips it. */
  private val options = Map(
    "header" -> "true",
    "multiLine" -> "true",
    "quote" -> "\"",
    "escape" -> "\"",
    "nullValue" -> "NULL")

  /** The one raw CSV reader: every scan here starts from it. */
  private def reader(spark: SparkSession): DataFrameReader =
    spark.read.options(options)

  private def csvOptions(spark: SparkSession): CSVOptions =
    new CSVOptions(options, false, spark.conf.get("spark.sql.session.timeZone"))

  /** The files matching `glob` directly under `dir`, sorted by path. */
  def listFiles(spark: SparkSession, dir: String, glob: String): Seq[String] = {
    val pattern = new Path(dir, glob)
    val fs = pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(pattern)).toSeq.flatten.map(_.getPath.toString).sorted
  }

  /** The first CSV record of `file`, tokenized the way Spark's multiLine
    * schema inference tokenizes it; None for a file with no record
    * (zero bytes, or only blank lines). */
  private def header(spark: SparkSession, file: String): Option[Seq[String]] = {
    val opts = csvOptions(spark)
    val path = new Path(file)
    val in = CodecStreams.createInputStream(spark.sparkContext.hadoopConfiguration, path)
    try {
      val parser = new CsvParser(opts.asParserSettings)
      parser.beginParsing(in, opts.charset)
      try Option(parser.parseNext()).map(_.toSeq)
      finally parser.stopParsing()
    } finally in.close()
  }

  /** The all-string schema Spark's header inference derives from a
    * header: empty and `NULL` names become `_c<i>`, duplicate names take
    * their index as a suffix. */
  private def schemaOf(spark: SparkSession, header: Seq[String]): StructType = {
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
    StructType(CSVUtils.makeSafeHeader(header.toArray, caseSensitive, csvOptions(spark))
      .map(StructField(_, StringType)))
  }

  /** Raw listings scans (PATTERN '.*listings.*[.]csv', design.sql:101–104)
    * with the source filename attached: `files` grouped by header, one
    * scan per distinct header, in order of each header's first file.
    * Header names are lower-cased (preprocess.ipynb cell 5:
    * rename(columns=str.lower)).
    *
    * A file without a record contributes no rows; when no file has one,
    * the result is a single empty frame with only `filename`. Each scan
    * checks every file's header against its group's schema
    * (`enforceSchema=false`), so a file rewritten with another header
    * after grouping fails the scan instead of shifting its columns.
    * Spark's check compares the raw header with the schema names, so a
    * header whose names [[schemaOf]] had to rename (empty, `NULL` or
    * duplicate) is scanned unchecked, as Spark's own inferred scan is. */
  def rawListingsByHeader(spark: SparkSession, files: Seq[String]): Seq[DataFrame] = {
    val headed = files.flatMap(f => header(spark, f).map(f -> _))
    val groups = headed.map(_._2).distinct
      .map(h => h -> headed.collect { case (f, `h`) => f })
    if (groups.isEmpty)
      Seq(spark.emptyDataFrame.withColumn("filename", lit(null).cast(StringType)))
    else groups.map { case (h, group) =>
      val schema = schemaOf(spark, h)
      val df = reader(spark)
        // check each file's header, unless schemaOf had to rename it
        .option("enforceSchema", (schema.fieldNames.toSeq != h).toString)
        .schema(schema)
        .csv(group: _*)
      df.toDF(df.columns.map(_.toLowerCase): _*)
        .withColumn("filename", element_at(split(input_file_name(), "/"), -1))
    }
  }

  /** One raw listings file: the single-file case of [[rawListingsByHeader]]. */
  def rawListings(spark: SparkSession, path: String): DataFrame =
    rawListingsByHeader(spark, Seq(path)).head

  /** Positional view of a raw census/geography table: columns renamed to
    * c1..cN, mirroring the reference's VARIANT paths value:c1..cN
    * (design.sql:142–159). */
  def positional(df: DataFrame): DataFrame =
    df.toDF((1 to df.columns.length).map(i => s"c$i"): _*)

  /** A positional side-file scan over every file matching `glob`. Its
    * schema comes from the first record of the first matching file that
    * has one, as Spark's header inference would take it. */
  private def sideFiles(spark: SparkSession, dir: String, glob: String): DataFrame = {
    val files = listFiles(spark, dir, glob)
    require(files.nonEmpty, s"no $glob under $dir")
    val schema = files.iterator.flatMap(header(spark, _)).nextOption()
      .fold(new StructType())(schemaOf(spark, _))
    positional(reader(spark).schema(schema).csv(files: _*))
  }

  def rawCensusG01(spark: SparkSession, dir: String): DataFrame =
    sideFiles(spark, dir, "*G01*.csv")

  def rawCensusG02(spark: SparkSession, dir: String): DataFrame =
    sideFiles(spark, dir, "*G02*.csv")

  /** The file patterns of the geography side files [[rawLga]] and
    * [[rawSsc]] scan. */
  val lgaGlob = "*LGA_2020*.csv"
  val sscGlob = "*SSC*.csv"

  def rawLga(spark: SparkSession, dir: String): DataFrame =
    sideFiles(spark, dir, lgaGlob)

  def rawSsc(spark: SparkSession, dir: String): DataFrame =
    sideFiles(spark, dir, sscGlob)

  /** Multi-valued NULL normalization applied to every string column
    * (design.sql:42 NULL_IF ('\\N','NULL','NUL','')). */
  def normalizeNulls(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType.typeName == "string") Cleanse.normNulls(col(f.name)).as(f.name)
      else col(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /** CSV export (S11 — preprocess.ipynb cell 17: df.to_csv(index=False)):
    * header on, quote/escape/nullValue symmetric with [[reader]] so a
    * write/read roundtrip preserves values incl. embedded quotes and
    * newlines, and SQL NULL roundtrips as the `NULL` token. Inherent
    * format ambiguity (same as the reference's NULL_IF CSV format,
    * design.sql:38–44): a field whose VALUE is the literal string
    * "NULL" is indistinguishable from SQL NULL and collapses to NULL on
    * read-back. One file per partition — at scale the parallel write IS
    * the point (coalesce(1) only for small exports). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write
      .options(options - "multiLine")
      .mode("overwrite")
      .csv(path)
}
