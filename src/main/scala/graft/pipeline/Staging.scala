package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.ops.{Cleanse, Qualify}

/** Staging layer: schema-harmonized, typed, deduplicated tables
  * (design.sql:134–267). Each builder is a pure DataFrame => DataFrame
  * composition; materialization policy (cache / write parquet) is the
  * orchestrator's call, mirroring the reference's CTAS-per-layer.
  */
object Staging {

  /** staging_census (design.sql:140–160): G01 FULL OUTER G02 on the LGA
    * key; lga_code = SPLIT_PART(c1,'LGA',2)::INT; representative measure
    * columns at their reference positions. */
  def census(g01: DataFrame, g02: DataFrame): DataFrame = {
    val a = g01.select(
      col("c1").as("g01_key"),
      Cleanse.splitPart(col("c1"), "LGA", 2).cast(IntegerType).as("lga_code_g01"),
      col("c4").cast("long").as("tot_p_p"),
      col("c55").cast("long").as("indigenous_p_tot_p"),
      col("c70").cast("long").as("australian_citizen_p"))
    val b = g02.select(
      col("c1").as("g02_key"),
      Cleanse.splitPart(col("c1"), "LGA", 2).cast(IntegerType).as("lga_code_g02"),
      col("c2").cast("long").as("median_age_persons"),
      col("c3").cast("long").as("median_mortgage_repay_monthly"),
      col("c9").cast("double").as("average_household_size"))
    a.join(b, col("g01_key") === col("g02_key"), "full_outer")
      .select(
        coalesce(col("lga_code_g01"), col("lga_code_g02")).as("lga_code"),
        col("tot_p_p"), col("indigenous_p_tot_p"), col("australian_citizen_p"),
        col("median_age_persons"), col("median_mortgage_repay_monthly"),
        col("average_household_size"))
      .filter(col("lga_code").isNotNull)
  }

  /** staging_location (design.sql:164–182): SSC suburbs FULL OUTER LGA
    * geography on the shared key; suburb/LGA names cleaned
    * (UPPER+TRIM+strip ' (STATE)' suffix); per-LGA area via windowed SUM
    * (design.sql:174); keep the largest-area row per suburb name
    * (QUALIFY row_number, design.sql:181). */
  def location(ssc: DataFrame, lga: DataFrame): DataFrame = {
    val s = ssc.select(
      col("c1").as("ssc_key"),
      upper(trim(Cleanse.splitPart(col("c3"), " (", 1))).as("suburb_name"),
      col("c6").cast("double").as("area_sqkm"))
    val l = lga.select(
      col("c1").as("lga_key"),
      col("c2").cast(IntegerType).as("lga_code"),
      upper(trim(Cleanse.splitPart(col("c3"), " (", 1))).as("lga_name"))
    val joined = s.join(l, col("ssc_key") === col("lga_key"), "full_outer")
      .filter(col("suburb_name").isNotNull)
    val withArea = joined.withColumn("lga_total_area",
      sum(col("area_sqkm")).over(Window.partitionBy(col("lga_code"))))
    Qualify.rowNumber(withArea,
        Seq(col("suburb_name")),
        // largest area wins; lga_code tiebreak for determinism (the
        // reference orders by total_area DESC only — SURVEY §7.5.5)
        Seq(col("lga_total_area").desc_nulls_last, col("lga_code").asc_nulls_last))
      .select("suburb_name", "lga_code", "lga_name", "area_sqkm", "lga_total_area")
  }

  /** staging_listing (design.sql:187–267): harmonize heterogeneous
    * monthly schemas to the canonical 74 columns (P4: missing columns
    * become NULL — preprocess.ipynb cell 17), cast per DDL, parse price,
    * normalize NULL spellings, and dedupe on (id, filename)
    * (design.sql:265–266; deterministic tiebreak by last_scraped DESC,
    * name). Input: raw frames, one per monthly file or one per header
    * shape — both work since harmonization is per-column. Over raw CSV
    * scans the dedup runs inside each file's partition, with no
    * exchange: a multiLine file is one task and `filename` is part of
    * the key ([[Qualify.dedup]]). */
  def listing(raws: Seq[DataFrame]): DataFrame = {
    require(raws.nonEmpty, "no listing inputs")
    // P4: every raw frame is harmonized to the same column order first
    val unioned = raws.map(harmonizeColumns).reduce(_ union _)
    val nulled = Ingest.normalizeNulls(unioned)
    val casted = nulled.select(
      col("filename") +:
        ListingSchema.columns.map {
          case "price" => Cleanse.parsePrice(col("price")).as("price")
          case c if ListingSchema.typeOf(c).typeName != "string" =>
            col(c).cast(ListingSchema.typeOf(c)).as(c)
          case c => col(c)
        }: _*)
    Qualify.dedup(casted,
      keys = Seq(col("id"), col("filename")),
      orderCols = Seq(col("last_scraped").desc_nulls_last, col("name").asc_nulls_last))
  }

  /** `filename` + the canonical columns in order, any missing one as a
    * NULL string (pandas `df[i] = ''` + reorder, preprocess.ipynb
    * cell 17); extra columns of the 102/106-col variants are simply not
    * selected. One projection, so the 74 columns are analyzed once. */
  private def harmonizeColumns(raw: DataFrame): DataFrame = {
    val present = raw.columns.toSet
    raw.select(("filename" +: ListingSchema.columns).map(c =>
      if (present(c)) col(c) else lit(null).cast(StringType).as(c)): _*)
  }

  /** Full staging build from a raw directory. Monthly files have
    * HETEROGENEOUS schemas (74/102/106 columns), and one CSV scan
    * assumes one schema — so the files are grouped by header
    * ([[Ingest.rawListingsByHeader]]: one driver-side first-record read
    * per file, no schema job) and each distinct header is one multi-file
    * scan, harmonized before the union. The notebook's per-file loop
    * becomes one union branch per header shape, not per file. */
  def listingFromDir(spark: SparkSession, dir: String): DataFrame = {
    val files = Ingest.listFiles(spark, dir, "*listings*.csv")
    require(files.nonEmpty, s"no *listings*.csv under $dir")
    listing(Ingest.rawListingsByHeader(spark, files))
  }
}
