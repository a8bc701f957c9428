package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end pipeline test over the synthetic raw CSVs (FIXTURES.md §B):
  * raw → staging → warehouse → datamart, with hand-computed golden
  * values for the KPI view (SURVEY §5.4).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tables: AirbnbPipeline.Tables = {
    val dir = tempDir("airbnb_fixtures")
    Fixtures.writeAll(dir)
    AirbnbPipeline.run(spark, dir.toString)
  }

  test("staging_listing: harmonized to 74+1 cols, deduped, typed, null-normalized") {
    val st = tables.stagingListing
    assert(st.columns.length == 75) // filename + canonical 74
    assert(st.count() == 12)        // 9+2+2 raw rows, one (id,filename) dup removed
    val id1 = st.filter($"id" === 1).collect()
    assert(id1.length == 1 && id1.head.getAs[String]("name") == "Alpha") // kept latest scrape
    val id8 = st.filter($"id" === 8).head()
    assert(id8.getAs[String]("license") == null)          // 'NUL' normalized
    assert(id8.getAs[String]("host_about") == null)       // '\N' normalized
    assert(id8.getAs[String]("calendar_updated") == null) // 'NULL' normalized
    val p1 = id1.head.getAs[java.math.BigDecimal]("price")
    assert(p1 != null && p1.doubleValue() == 1234.0)      // '$1,234.00' parsed
    // multiline quoted description survived CSV parsing
    assert(tables.stagingListing.filter($"id" === 4).head()
      .getAs[String]("description").contains("\nsecond line"))
    // heterogeneous-schema harmonization: column missing from 05_2020
    // is null there but populated for canonical-file rows
    assert(st.filter($"id" === 9).head().getAs[String]("bathrooms_text") == null)
  }

  test("staging_census: G01 full-outer G02 with coalesced LGA key") {
    val c = tables.stagingCensus
    assert(c.count() == 4) // 3 shared + 1 G02-only
    val only = c.filter($"lga_code" === 19999).head()
    assert(only.getAs[Long]("median_age_persons") == 50L)
    assert(only.isNullAt(only.fieldIndex("tot_p_p"))) // G01 side absent
  }

  test("staging_location: windowed area + keep-largest-area per suburb") {
    val loc = tables.stagingLocation
    val pyrmont = loc.filter($"suburb_name" === "PYRMONT").collect()
    assert(pyrmont.length == 1)
    assert(pyrmont.head.getAs[Int]("lga_code") == 10050) // total area 100 beats 80
    assert(pyrmont.head.getAs[Double]("lga_total_area") == 100.0)
  }

  test("writeCsv roundtrip through the Ingest reader options (S11)") {
    val out = tempDir("graft_csv").toString + "/export"
    val df = Seq(
      (1L, Some("plain")),
      (2L, Some("has \"quotes\" and, commas")),
      (3L, Some("multi\nline")),
      (4L, Some("悉尼 unicode")),
      (5L, None),          // SQL NULL must roundtrip as NULL
      (6L, Some("NULL"))   // literal "NULL" collapses to SQL NULL (documented)
    ).toDF("id", "text")
    Ingest.writeCsv(df, out)
    // EXACTLY the Ingest reader options — the symmetry writeCsv claims
    val back = spark.read
      .option("header", "true").option("multiLine", "true")
      .option("quote", "\"").option("escape", "\"")
      .option("nullValue", "NULL")
      .csv(out)
      .select($"id".cast("long"), $"text")
    assert(back.count() == 6)
    val expected = df.withColumn("text",
      when($"text" === "NULL", lit(null)).otherwise($"text"))
    assert(back.exceptAll(expected).isEmpty && expected.exceptAll(back).isEmpty)
  }

  test("KPI rate guard: all-NULL host_id group yields NULL superhost_rate, no ANSI 0/0") {
    val fact = Seq(
      // one (area, month) group: rows exist, every host_id NULL ->
      // n_hosts = 0 distinct non-null ids while n_superhosts arm matches
      ("SYDNEY", 2020, 6, Option.empty[Long], 100.0, "t", "t", 10),
      ("SYDNEY", 2020, 6, Option.empty[Long], 120.0, "t", "f", 10))
      .toDF("neighbourhood_lga", "file_year", "file_month", "host_id",
        "price", "has_availability", "host_is_superhost", "availability_30")
    val out = Datamart.kpiNeighbourhoodMonth(fact, "neighbourhood_lga").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Any]("superhost_rate") == null)
    assert(out.head.getAs[Double]("active_rate") == 100.0)
  }

  test("NULL-keyed KPI months: per-arm split rows get a DETERMINISTIC lag order") {
    // raw view regime: NULL area, two arms matched per month -> two rows
    // per month sharing the lag window's (partition, order) tuple; the
    // tiebreak makes pct_change_active reproducible under any layout
    val fact = Seq(
      (Option.empty[String], 2020, 6, Some(1L), 100.0, "t", "f", 10),
      (Option.empty[String], 2020, 6, Some(2L), 90.0, "f", "f", 10),
      (Option.empty[String], 2020, 7, Some(3L), 80.0, "t", "f", 10),
      (Option.empty[String], 2020, 7, Some(4L), 70.0, "f", "f", 10))
      .toDF("neighbourhood_cleansed", "file_year", "file_month", "host_id",
        "price", "has_availability", "host_is_superhost", "availability_30")
    def run(df: org.apache.spark.sql.DataFrame) =
      Datamart.kpiNeighbourhoodMonth(df, "neighbourhood_cleansed")
        .orderBy("file_year", "file_month", "n_listings", "n_active", "n_inactive")
        .collect().toSeq
    val a = run(fact)
    val b = run(fact.repartition(5))
    assert(a == b)
    assert(a.length == 6) // 2 months x 3 matched arms (no superhosts)
  }

  test("fact_listing: colliding cleaned LGA names resolve to ONE code — no row fanout") {
    // two location rows whose lga_name cleans identically but with
    // different codes: a pair-distinct name->code dim would fan out
    // every joined fact row (breaking the (id, filename) PK)
    val stagingListing = Seq(
      (1L, 50.0, 100L, "Bondi, NSW, Australia", "Bondi Beach",
        "listings_01_2021.csv", java.sql.Date.valueOf("2021-01-05"))
    ).toDF("id", "price", "host_id", "host_location", "neighbourhood",
      "filename", "last_scraped")
    val stagingLocation = Seq(
      ("BONDI BEACH", "SYDNEY", 17200),
      ("BONDI", "SYDNEY", 10050) // same cleaned name, different code
    ).toDF("suburb_name", "lga_name", "lga_code")
    val f = Warehouse.factListing(stagingListing, stagingLocation)
    assert(f.count() == 1, "name->code resolution fanned out the fact row")
    assert(f.head().getAs[Int]("neighbourhood_lga_code") == 10050) // min code
  }

  test("fact_listing: filters, derivations, suburb fixups, month validity") {
    val f = tables.factListing
    val ids = f.select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 4L, 6L, 7L, 8L, 9L, 10L, 11L, 12L)) // 2,3 filtered; 5 out-of-month
    val id4 = f.filter($"id" === 4).head()
    assert(id4.getAs[String]("neighbourhood_lga") == "SYDNEY")     // 悉尼 fixup
    assert(id4.getAs[Int]("neighbourhood_lga_code") == 10050)
    assert(id4.getAs[String]("host_lga") == "SYDNEY")              // РЕДФЕРН fixup
    val id7 = f.filter($"id" === 7).head()
    assert(id7.getAs[String]("neighbourhood_lga") == "NORTHERN BEACHES") // LIKE fixup
    assert(id7.getAs[Int]("neighbourhood_lga_code") == 10470)
    val id6 = f.filter($"id" === 6).head()
    assert(id6.getAs[String]("neighbourhood_suburb") == "OTHER")
    assert(id6.getAs[String]("host_suburb") == "MISSING")
    val id8 = f.filter($"id" === 8).head()
    assert(id8.getAs[String]("neighbourhood_suburb") == "SYDNEY")  // COUNCIL stripped
    assert(id8.getAs[Int]("file_year") == 2021 && id8.getAs[Int]("file_month") == 1)
  }

  test("kpi_neighbourhood_month: golden values for the SYDNEY series") {
    val kpi = tables.kpiNeighbourhoodMonth.filter($"area" === "SYDNEY")
      .orderBy("file_year", "file_month").collect()
    assert(kpi.length == 3) // 2020-05, 2020-07, 2021-01
    val Array(m05, m07, m21) = kpi
    assert(m05.getAs[Long]("n_listings") == 2 && m05.getAs[Long]("n_active") == 1)
    assert(m05.getAs[Long]("n_inactive") == 1)
    assert(m05.getAs[Double]("est_revenue_active") == 1350.0) // (30-15)*90
    assert(m07.getAs[Long]("n_active") == 2)
    assert(m07.getAs[Double]("est_revenue_active") == 3000.0) // (30-5)*120 + 0
    assert(m07.getAs[Double]("pct_change_active") == 100.0)   // 1 -> 2
    assert(m21.getAs[Long]("n_listings") == 3)                // ids 1, 4, 8
    assert(m21.getAs[Long]("n_hosts") == 2)                   // hosts 100, 101
    assert(m21.getAs[Long]("n_superhosts") == 1)              // host 100
    assert(m21.getAs[Double]("est_revenue_active") == 26180.0) // 24680+0+1500
    assert(m21.getAs[Double]("pct_change_active") == 50.0)    // 2 -> 3
    assert(m21.getAs[Double]("active_rate") == 100.0)
  }

  test("fact plan shape: dim joins broadcast; the fact lineage has no shuffle") {
    // rebuild without cache so the full lineage is visible in the plan
    val dir = tempDir("airbnb_fixtures_plan")
    Fixtures.writeAll(dir)
    val staging = Staging.listingFromDir(spark, dir.toString)
    val loc = Staging.location(
      Ingest.rawSsc(spark, dir.toString), Ingest.rawLga(spark, dir.toString))
    val plan = Warehouse.factListing(staging, loc).queryExecution.executedPlan.toString
    // 4 dim joins + the location staging's internal joins (its subplan
    // is replicated per dim reference) — all broadcast, none SMJ
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 4, s"expected >=4 broadcast joins, got $nBroadcast")
    assert(!plan.contains("SortMergeJoin"), "a dim join fell back to SMJ")
    // the fact-side stream never shuffles: the (id, filename) dedup
    // runs inside each raw file's partition
    val factShuffles = "hashpartitioning\\(id#".r.findAllIn(plan).length
    assert(factShuffles == 0, s"expected no shuffle on the fact key, got $factShuffles")
  }

  test("KPI view plans have no Expand: distinct counts are plain aggregates") {
    val views = Seq(tables.kpiNeighbourhoodMonth, tables.kpiNeighbourhoodMonthRaw,
      tables.kpiPropertyTypeMonth, tables.kpiHostMonth)
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    // positive control: two masked countDistincts do plan an Expand
    val control = tables.factListing.groupBy("file_year").agg(
      countDistinct(when($"has_availability" === "t", $"host_id")),
      countDistinct(when($"host_is_superhost" === "t", $"host_id")))
    assert(plan(control).contains("Expand"), plan(control))
    views.foreach(v => assert(!plan(v).contains("Expand"), plan(v)))
  }

  test("kpi variants + SQL serving layer (views registered)") {
    // OTHER bucket exists with an inactive-only month
    val other = tables.kpiNeighbourhoodMonth
      .filter($"area" === "OTHER" && $"file_year" === 2021).head()
    assert(other.getAs[Long]("n_inactive") == 1)
    assert(other.isNullAt(other.fieldIndex("n_active"))) // full-outer null side
    // property-type view groups on 5 keys
    val prop = tables.kpiPropertyTypeMonth
      .filter($"property_type" === "House").head()
    assert(prop.getAs[Long]("n_listings") == 1)
    // raw cross-check view uses neighbourhood_cleansed
    assert(tables.kpiNeighbourhoodMonthRaw.filter($"area" === "Bondi").count() == 1)
    // serving layer: plain SQL over the registered views
    val viaSql = spark.sql(
      """SELECT n_active FROM kpi_neighbourhood_month
         WHERE area = 'SYDNEY' AND file_year = 2020 AND file_month = 7""")
      .as[Long].head()
    assert(viaSql == 2L)
    // host-side view
    assert(spark.sql("SELECT count(*) FROM kpi_host_month").as[Long].head() > 0)
  }

  test("e2e scale refresh: KPI goldens scale exactly linearly on 10x fixtures") {
    // Replicas shift only id/host_id (Fixtures.shiftRow), so every
    // count/revenue KPI must be EXACTLY 10x its hand-computed golden
    // and every rate/percent-change must be invariant — any
    // super-linear or sub-linear drift (dedup bleeding across
    // replicas, a window mixing series, double-counted dims) breaks
    // an equality here, not a tolerance. (Last in the file: re-running
    // the pipeline re-registers the serving views.)
    val dir = tempDir("airbnb_fixtures_x10")
    Fixtures.writeAll(dir, factor = 10)
    val t10 = AirbnbPipeline.run(spark, dir.toString)
    assert(t10.stagingListing.count() == 120) // 13 raw - 1 dup, x10
    val kpi = t10.kpiNeighbourhoodMonth.filter($"area" === "SYDNEY")
      .orderBy("file_year", "file_month").collect()
    assert(kpi.length == 3) // months don't multiply
    val Array(m05, m07, m21) = kpi
    assert(m05.getAs[Long]("n_listings") == 20 && m05.getAs[Long]("n_active") == 10)
    assert(m05.getAs[Long]("n_inactive") == 10)
    assert(m05.getAs[Double]("est_revenue_active") == 13500.0)
    assert(m07.getAs[Long]("n_active") == 20)
    assert(m07.getAs[Double]("est_revenue_active") == 30000.0)
    assert(m07.getAs[Double]("pct_change_active") == 100.0) // ratio invariant
    assert(m21.getAs[Long]("n_listings") == 30)
    assert(m21.getAs[Long]("n_hosts") == 20)      // hosts replicate with listings
    assert(m21.getAs[Long]("n_superhosts") == 10)
    assert(m21.getAs[Double]("est_revenue_active") == 261800.0)
    assert(m21.getAs[Double]("pct_change_active") == 50.0)
    assert(m21.getAs[Double]("active_rate") == 100.0)
  }

  test("e2e scale refresh: KPI goldens scale exactly linearly on 100x fixtures") {
    // Two decades over the hand-computed goldens, matching the
    // registry-side 100x scale step: replica ids stay disjoint
    // (shift stride 1000 > any base id), so every count/revenue KPI
    // must be EXACTLY 100x and every rate/percent-change invariant —
    // equality assertions, no tolerance, same as the 10x test.
    val dir = tempDir("airbnb_fixtures_x100")
    Fixtures.writeAll(dir, factor = 100)
    val t100 = AirbnbPipeline.run(spark, dir.toString)
    assert(t100.stagingListing.count() == 1200) // 13 raw - 1 dup, x100
    val kpi = t100.kpiNeighbourhoodMonth.filter($"area" === "SYDNEY")
      .orderBy("file_year", "file_month").collect()
    assert(kpi.length == 3) // months don't multiply
    val Array(m05, m07, m21) = kpi
    assert(m05.getAs[Long]("n_listings") == 200 && m05.getAs[Long]("n_active") == 100)
    assert(m05.getAs[Long]("n_inactive") == 100)
    assert(m05.getAs[Double]("est_revenue_active") == 135000.0)
    assert(m07.getAs[Long]("n_active") == 200)
    assert(m07.getAs[Double]("est_revenue_active") == 300000.0)
    assert(m07.getAs[Double]("pct_change_active") == 100.0) // ratio invariant
    assert(m21.getAs[Long]("n_listings") == 300)
    assert(m21.getAs[Long]("n_hosts") == 200)      // hosts replicate with listings
    assert(m21.getAs[Long]("n_superhosts") == 100)
    assert(m21.getAs[Double]("est_revenue_active") == 2618000.0)
    assert(m21.getAs[Double]("pct_change_active") == 50.0)
    assert(m21.getAs[Double]("active_rate") == 100.0)
  }
}
