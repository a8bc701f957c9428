package graft.pipeline

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Cleanse

/** Raw-layer ingestion: the reference's external tables over a cloud
  * stage (design.sql:28–128) restated as Spark CSV directory scans.
  *
  * - filename-pattern scans (S1): `pathGlobFilter`, so pruning happens at
  *   file listing, before any bytes are read
  * - CSV options (S2): header skip, quote/escape `"`, multiline quoted
  *   fields (descriptions contain newlines), one nullValue spelling at
  *   parse time — the remaining NULL_IF spellings of design.sql:38–44
  *   are normalized post-read (Cleanse.normNulls), since Spark's reader
  *   takes a single null token
  * - file identity (metadata$filename, design.sql:263): input_file_name()
  *
  * Scale posture: a directory of monthly CSVs is one multi-file scan —
  * Spark parallelizes by file/split; no driver-side file loops.
  */
object Ingest {

  /** The one raw CSV reader: [[csv]] and [[csvWithQuarantine]] both
    * start here, so the quarantine path parses exactly like the main
    * path. */
  private def reader(spark: SparkSession, glob: String): DataFrameReader =
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("nullValue", "NULL")
      .option("pathGlobFilter", glob)

  private def csv(spark: SparkSession, dir: String, glob: String): DataFrame =
    reader(spark, glob).csv(dir)

  /** Raw listings scan (PATTERN '.*listings.*[.]csv', design.sql:101–104)
    * with the source filename attached. Header names are lower-cased
    * (preprocess.ipynb cell 5: rename(columns=str.lower)). */
  def rawListings(spark: SparkSession, dir: String): DataFrame = {
    val df = csv(spark, dir, "*listings*.csv")
    df.toDF(df.columns.map(_.toLowerCase): _*)
      .withColumn("filename",
        element_at(split(input_file_name(), "/"), -1))
  }

  /** Positional view of a raw census/geography table: columns renamed to
    * c1..cN, mirroring the reference's VARIANT paths value:c1..cN
    * (design.sql:142–159). */
  def positional(df: DataFrame): DataFrame =
    df.toDF((1 to df.columns.length).map(i => s"c$i"): _*)

  def rawCensusG01(spark: SparkSession, dir: String): DataFrame =
    positional(csv(spark, dir, "*G01*.csv"))

  def rawCensusG02(spark: SparkSession, dir: String): DataFrame =
    positional(csv(spark, dir, "*G02*.csv"))

  def rawLga(spark: SparkSession, dir: String): DataFrame =
    positional(csv(spark, dir, "*LGA_2020*.csv"))

  def rawSsc(spark: SparkSession, dir: String): DataFrame =
    positional(csv(spark, dir, "*SSC*.csv"))

  /** Schema-enforced CSV scan that QUARANTINES malformed rows instead
    * of silently dropping (DROPMALFORMED) or null-flooding (plain
    * PERMISSIVE) them — the ingest posture a 100 TB load needs, where
    * "0.001% of rows vanished" is invisible until the audit.
    *
    * PERMISSIVE parsing captures each unparseable line in
    * `_corrupt_record`; the result splits into (clean rows with the
    * declared schema, quarantined raw lines + filename for the audit
    * trail). One scan feeds both sides — the caller writes the
    * quarantine alongside the layer output. The reference's external
    * tables had Snowflake's loose VARIANT parsing and no such audit;
    * this is the missing operational half of S2. */
  def csvWithQuarantine(spark: SparkSession, dir: String, glob: String,
                        schema: org.apache.spark.sql.types.StructType)
      : (DataFrame, DataFrame) = {
    val corrupt = "_corrupt_record"
    val withCorrupt = schema.add(corrupt, "string")
    val raw = reader(spark, glob)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .schema(withCorrupt)
      .csv(dir)
      // filename must be captured HERE: input_file_name() is only
      // defined during the file scan, not above the cache boundary
      .withColumn("__src_file", element_at(split(input_file_name(), "/"), -1))
      // cache: (a) the clean/bad split reads the parse ONCE, (b) Spark
      // forbids queries referencing ONLY the corrupt column over a raw
      // file scan — the cache materializes it first
      .cache()
    val clean = raw.filter(col(corrupt).isNull).drop(corrupt, "__src_file")
    val bad = raw.filter(col(corrupt).isNotNull)
      .select(col(corrupt).as("raw_line"), col("__src_file").as("filename"))
    (clean, bad)
  }

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
    * header on, quote/escape/nullValue symmetric with [[csv]] so a
    * write/read roundtrip preserves values incl. embedded quotes and
    * newlines, and SQL NULL roundtrips as the `NULL` token. Inherent
    * format ambiguity (same as the reference's NULL_IF CSV format,
    * design.sql:38–44): a field whose VALUE is the literal string
    * "NULL" is indistinguishable from SQL NULL and collapses to NULL on
    * read-back. One file per partition — at scale the parallel write IS
    * the point (coalesce(1) only for small exports). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("nullValue", "NULL")
      .mode("overwrite")
      .csv(path)
}
