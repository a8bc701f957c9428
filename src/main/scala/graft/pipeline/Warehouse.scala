package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.ops.Cleanse

/** Warehouse layer: the star schema (design.sql:273–549) —
  * `dim_census` (1 row per LGA) and `fact_listing` (monthly snapshot
  * grain, PK (id, filename)).
  */
object Warehouse {

  /** dim_census (design.sql:278–317): staging census verbatim behind the
    * dimension name (PK lga_code enforced upstream by the staging
    * full-outer + coalesce). */
  def dimCensus(stagingCensus: DataFrame): DataFrame = stagingCensus

  /** Cluster-scale fact materialization: parquet partitioned by
    * (file_year, file_month) — the fact's natural monthly-snapshot grain
    * (PK (id, filename), design.sql:413). Month-scoped reads then prune
    * at the PLANNER (PartitionFilters), so a single-month KPI refresh
    * touches 1/Nth of a 100 TB fact instead of scanning it.
    *
    * Output-file control: a naive partitionBy write emits one file per
    * (task × month) — with 1000 upstream tasks × 12 months that is the
    * classic small-files explosion. Clustering by (month, salt) first
    * bounds output at `filesPerMonth` files per partition directory
    * (each salt tuple lands in exactly one shuffle task); salt by the
    * listing id's hash so files stay balanced within a month. Size
    * filesPerMonth ≈ month bytes / target file size (~128–512 MB).
    *
    * The overwrite is DYNAMIC, set on this write alone (no session
    * conf): it replaces exactly the months present in `fact` and
    * leaves every other month directory under `path` in place — the
    * commit unit of an incremental [[Refresh]] tick. */
  def writeFact(fact: DataFrame, path: String, filesPerMonth: Int = 1): Unit = {
    require(filesPerMonth > 0, "filesPerMonth must be positive")
    fact
      .repartition(col("file_year"), col("file_month"),
        pmod(hash(col("id")), lit(filesPerMonth)))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("file_year", "file_month")
      .parquet(path)
  }

  /** The reference's suburb→LGA manual fixup tables
    * (design.sql:473–529 neighbourhood map, 530–541 host map), applied
    * AFTER the suburb join: NULL suburb → sentinel; known-problem
    * suburbs (unicode spellings, LIKE prefixes) → their LGA name;
    * otherwise the joined LGA name, with the sentinel as last resort.
    * Representative subset of the ~25 reference branches, identical
    * semantics. */
  private def fixupLga(suburb: Column, joinedLga: Column, sentinel: String): Column =
    when(suburb.isNull, sentinel)
      .when(suburb.like("NORTH CURL CURL%"), "NORTHERN BEACHES")
      .when(suburb.like("%DARLING HARBOUR"), "SYDNEY")
      .when(suburb.isin("悉尼", "СИДНЕЙ"), "SYDNEY")
      .when(suburb === "РЕДФЕРН", "SYDNEY")
      .when(suburb === "스트라스필드", "STRATHFIELD")
      .otherwise(coalesce(joinedLga, lit(sentinel)))

  /** fact_listing (design.sql:419–549), the E2 trace:
    * filter → derive suburbs + file/listing dates → LEFT JOIN location
    * dim twice (broadcast: bounded dimension) → snapshot-validity filter
    * → name→code resolution joins. Everything here is broadcast, and
    * over raw CSV scans the staging dedup upstream is file-local
    * (Qualify.dedup), so the lineage from raw files has no wide
    * shuffle.
    */
  def factListing(stagingListing: DataFrame, stagingLocation: DataFrame): DataFrame = {
    val loc = stagingLocation.select(col("suburb_name"), col("lga_name"))
    // ONE code per name, not distinct (name, code) PAIRS: two source LGAs
    // can clean to the same name (e.g. 'SYDNEY (A)' / 'SYDNEY (C)'), and
    // a pair-distinct would then fan out every joined fact row, breaking
    // the (id, filename) PK. Keyed min = deterministic resolution.
    val locCodes = stagingLocation.groupBy(col("lga_name"))
      .agg(min(col("lga_code")).as("lga_code"))

    val base = stagingListing
      // design.sql:459
      .filter(col("price").isNotNull && col("host_id").isNotNull)
      // design.sql:451–457
      .withColumn("host_suburb",
        upper(trim(Cleanse.splitPart(col("host_location"), ",", 1))))
      .withColumn("neighbourhood_suburb", Cleanse.normSuburb(col("neighbourhood")))
      // filename 'listings_MM_YYYY.csv' -> month/year, anchored from the
      // END with negative split_part indices (F1 negative-n,
      // design.sql:454-455)
      .withColumn("file_month",
        Cleanse.splitPart(col("filename"), "_", -2).cast(IntegerType))
      .withColumn("file_year",
        Cleanse.splitPart(Cleanse.splitPart(col("filename"), "_", -1), ".", 1)
          .cast(IntegerType))
      .withColumn("listing_year", year(col("last_scraped")))
      .withColumn("listing_month", month(col("last_scraped")))
      // design.sql:447
      .withColumn("file_date",
        Cleanse.monthStart(col("file_year"), col("file_month")))

    val withLgas = base
      // design.sql:461–464 — two broadcast lookups against the same dim
      .join(broadcast(loc.withColumnRenamed("suburb_name", "neighbourhood_suburb")
        .withColumnRenamed("lga_name", "__nlga_joined")), Seq("neighbourhood_suburb"), "left")
      .join(broadcast(loc.withColumnRenamed("suburb_name", "host_suburb")
        .withColumnRenamed("lga_name", "__hlga_joined")), Seq("host_suburb"), "left")
      // design.sql:473–541 — NULL defaults + manual suburb→LGA fixups,
      // applied to the JOINED name (the reference's CASE runs above the
      // suburb joins and below the name→code resolution)
      .withColumn("neighbourhood_lga",
        fixupLga(col("neighbourhood_suburb"), col("__nlga_joined"), "OTHER"))
      .withColumn("host_lga",
        fixupLga(col("host_suburb"), col("__hlga_joined"), "MISSING"))
      .withColumn("neighbourhood_suburb",
        Cleanse.defaultIfNull(col("neighbourhood_suburb"), "OTHER"))
      .withColumn("host_suburb",
        Cleanse.defaultIfNull(col("host_suburb"), "MISSING"))
      .drop("__nlga_joined", "__hlga_joined")
      // design.sql:543 — snapshot-validity: scraped within the file month
      .filter(Cleanse.withinMonthOf(col("last_scraped"), col("file_date")))

    // design.sql:545–548 — resolve LGA names to codes via the deduped dim
    withLgas
      .join(broadcast(locCodes
        .withColumnRenamed("lga_name", "neighbourhood_lga")
        .withColumnRenamed("lga_code", "neighbourhood_lga_code")),
        Seq("neighbourhood_lga"), "left")
      .join(broadcast(locCodes
        .withColumnRenamed("lga_name", "host_lga")
        .withColumnRenamed("lga_code", "host_lga_code")),
        Seq("host_lga"), "left")
  }
}
