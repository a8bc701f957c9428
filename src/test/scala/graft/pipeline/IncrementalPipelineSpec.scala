package graft.pipeline

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** REFRESH semantics end-to-end (round-8 verdict ask #6): the monthly
  * fixture files land ONE AT A TIME; after every increment the
  * maintained fact (and a KPI view computed over it) must equal a
  * full batch rebuild over the files present so far — the
  * reference's operational loop (populate.py:65–68), where each DAG
  * run refreshes the warehouse for the newly scraped month.
  */
class IncrementalPipelineSpec extends SparkSpec {

  /** Stage all fixtures in a side dir; the watched rawDir starts with
    * only the static census/geography side files. */
  private def stage(): (Path, Path) = {
    val all = tempDir("refresh_all")
    Fixtures.writeAll(all)
    val raw = tempDir("refresh_raw")
    Files.list(all).filter(p => !p.getFileName.toString.contains("listings"))
      .forEach(p => Files.copy(p, raw.resolve(p.getFileName)))
    (all, raw)
  }

  private def deliver(all: Path, raw: Path, name: String): Unit =
    Files.copy(all.resolve(name), raw.resolve(name),
      StandardCopyOption.REPLACE_EXISTING)

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toSeq: _*).collect()
      .map(_.mkString("\u0000")).sorted.toSeq
  }

  private def batchFact(rawDir: String): DataFrame = {
    val loc = Staging.location(
      Ingest.rawSsc(spark, rawDir), Ingest.rawLga(spark, rawDir))
    Warehouse.factListing(Staging.listingFromDir(spark, rawDir), loc)
  }

  test("monthly increments equal the batch rebuild after every tick") {
    val (all, raw) = stage()
    val factDir = tempDir("refresh_fact").toString
    // chronological delivery order, as the scrapes arrive
    val months = Seq("listings_05_2020.csv", "listings_07_2020.csv",
      "listings_01_2021.csv")
    months.zipWithIndex.foreach { case (m, i) =>
      deliver(all, raw, m)
      val processed = Refresh.refreshFact(spark, raw.toString, factDir)
      assert(processed.map(p => p.substring(p.lastIndexOf('/') + 1)) == Seq(m),
        s"tick $i should process exactly $m")
      val inc = Refresh.fact(spark, factDir)
      val full = batchFact(raw.toString)
      assert(canon(inc) == canon(full),
        s"fact after increment $i (${m}) diverges from the batch rebuild")
      // a KPI view over the maintained fact equals the batch KPI
      assert(canon(Datamart.kpiHostMonth(inc)) ==
        canon(Datamart.kpiHostMonth(full)),
        s"kpi_host_month after increment $i diverges")
      assert(canon(Datamart.kpiNeighbourhoodMonth(inc, "neighbourhood_lga")) ==
        canon(Datamart.kpiNeighbourhoodMonth(full, "neighbourhood_lga")),
        s"kpi_neighbourhood_month after increment $i diverges")
    }
  }

  test("late out-of-order month delivery still equals the batch rebuild") {
    val (all, raw) = stage()
    val factDir = tempDir("refresh_fact_ooo").toString
    // newest month first, then the stragglers — arrival order must not
    // matter because each file owns its month partition outright
    Seq("listings_01_2021.csv", "listings_07_2020.csv", "listings_05_2020.csv")
      .foreach { m =>
        deliver(all, raw, m)
        Refresh.refreshFact(spark, raw.toString, factDir)
        assert(canon(Refresh.fact(spark, factDir)) ==
          canon(batchFact(raw.toString)),
          s"fact diverges from batch rebuild after out-of-order $m")
      }
  }

  test("a second file landing in an already-built month keeps both files' rows") {
    // the commit unit is the month partition, the discovery unit the
    // file: tick 2's dynamic overwrite of 05_2020 must re-include
    // tick 1's file or it silently drops those rows (the fact PK is
    // (id, filename), so a multi-file month is legal state)
    val (all, raw) = stage()
    val factDir = tempDir("refresh_fact_mfm").toString
    deliver(all, raw, "listings_05_2020.csv")
    Refresh.refreshFact(spark, raw.toString, factDir)
    // same content under a second glob-matching name for the same month
    Files.copy(all.resolve("listings_05_2020.csv"),
      raw.resolve("relistings_05_2020.csv"))
    val processed = Refresh.refreshFact(spark, raw.toString, factDir)
    assert(processed.size == 1 && processed.head.endsWith("relistings_05_2020.csv"))
    assert(canon(Refresh.fact(spark, factDir)) == canon(batchFact(raw.toString)),
      "multi-file month diverges from the batch rebuild")
  }

  test("a tick with no new files is a no-op") {
    val (all, raw) = stage()
    val factDir = tempDir("refresh_fact_noop").toString
    deliver(all, raw, "listings_05_2020.csv")
    assert(Refresh.refreshFact(spark, raw.toString, factDir).nonEmpty)
    val before = canon(Refresh.fact(spark, factDir))
    assert(Refresh.refreshFact(spark, raw.toString, factDir).isEmpty)
    assert(canon(Refresh.fact(spark, factDir)) == before)
  }

  test("padded and unpadded month spellings share one month partition") {
    val (all, raw) = stage()
    val factDir = tempDir("refresh_fact_pad").toString
    deliver(all, raw, "listings_05_2020.csv")
    Refresh.refreshFact(spark, raw.toString, factDir)
    // same content under an UNPADDED spelling of the same month: both
    // cast to file_month=5 in the fact, so the reprocess guard must key
    // on the parsed (year, month) — raw-token keys ('05_2020' vs
    // '5_2020') would miss the earlier file and the month overwrite
    // would silently drop its rows (the round-9 ADVICE data-loss mode)
    Files.copy(all.resolve("listings_05_2020.csv"),
      raw.resolve("listings_5_2020.csv"))
    val p = Refresh.refreshFact(spark, raw.toString, factDir)
    assert(p.size == 1 && p.head.endsWith("listings_5_2020.csv"))
    assert(canon(Refresh.fact(spark, factDir)) == canon(batchFact(raw.toString)),
      "unpadded month spelling dropped the padded file's rows")
  }

  test("a dim side-file change invalidates already-built months") {
    val (all, raw) = stage()
    val factDir = tempDir("refresh_fact_dim").toString
    deliver(all, raw, "listings_05_2020.csv")
    deliver(all, raw, "listings_01_2021.csv")
    Refresh.refreshFact(spark, raw.toString, factDir)
    assert(Refresh.refreshFact(spark, raw.toString, factDir).isEmpty,
      "dims untouched -> tick must be a no-op")
    // edit the SSC geography in place: Pyrmont's largest-area LGA flips
    // from SYDNEY to NORTHERN BEACHES, so already-built months are stale
    Fixtures.writeSsc(raw, pyrmontSydneyArea = "1")
    val re = Refresh.refreshFact(spark, raw.toString, factDir)
    assert(re.size == 2, "dim change must reprocess every file")
    assert(canon(Refresh.fact(spark, factDir)) == canon(batchFact(raw.toString)),
      "fact after dim change diverges from a batch rebuild over the new dims")
    assert(Refresh.fact(spark, factDir)
      .filter(col("neighbourhood_suburb") === "PYRMONT")
      .select("neighbourhood_lga").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("NORTHERN BEACHES"),
      "rebuilt fact must reflect the edited dim")
    assert(Refresh.refreshFact(spark, raw.toString, factDir).isEmpty,
      "digest stored -> next tick is a no-op again")
  }

  test("a missing digest with a non-empty ledger rebuilds (crash-window recovery)") {
    // round-10 ADVICE (medium): a factDir whose ledger is populated but
    // whose dim_digest is absent — a pre-digest layout, or a crash
    // between the digest and ledger commits — must NOT be read as
    // "dims unchanged": a dim edit inside that window would otherwise
    // be masked forever once the next new-file tick stores the NEW
    // digest. The recovery mode is over-processing: rebuild.
    val (all, raw) = stage()
    val factDir = tempDir("refresh_fact_gap").toString
    deliver(all, raw, "listings_05_2020.csv")
    deliver(all, raw, "listings_01_2021.csv")
    Refresh.refreshFact(spark, raw.toString, factDir)
    // simulate the gap: digest vanishes, ledger stays
    Files.delete(java.nio.file.Paths.get(factDir, "dim_digest"))
    // the dim edit that the broken ordering would have silently missed
    Fixtures.writeSsc(raw, pyrmontSydneyArea = "1")
    val re = Refresh.refreshFact(spark, raw.toString, factDir)
    assert(re.size == 2, "missing digest + ledger must rebuild all files")
    assert(canon(Refresh.fact(spark, factDir)) == canon(batchFact(raw.toString)),
      "recovered fact diverges from a batch rebuild over the edited dims")
    assert(Refresh.refreshFact(spark, raw.toString, factDir).isEmpty,
      "digest re-stored -> steady state again")
  }

  test("a first tick whose rows are all filtered leaves a readable empty fact") {
    val (all, raw) = stage()
    val factDir = tempDir("refresh_fact_empty").toString
    Fixtures.writeAllFiltered(raw, "listings_09_2020.csv")
    assert(Refresh.refreshFact(spark, raw.toString, factDir).size == 1)
    // zero committed rows: parquet has nothing to infer a schema from;
    // the sidecar must keep the fact readable (round-9 ADVICE)
    val empty = Refresh.fact(spark, factDir)
    assert(empty.count() == 0)
    assert(empty.columns.contains("neighbourhood_lga"))
    assert(Refresh.refreshFact(spark, raw.toString, factDir).isEmpty,
      "the filtered file is ledgered -> re-tick is a no-op")
    deliver(all, raw, "listings_05_2020.csv")
    Refresh.refreshFact(spark, raw.toString, factDir)
    assert(canon(Refresh.fact(spark, factDir)) == canon(batchFact(raw.toString)),
      "a real month after the empty one diverges from the batch rebuild")
  }

  test("reprocessing a file is idempotent (dynamic month overwrite)") {
    val (all, raw) = stage()
    val factDir = tempDir("refresh_fact_idem").toString
    deliver(all, raw, "listings_05_2020.csv")
    deliver(all, raw, "listings_01_2021.csv")
    Refresh.refreshFact(spark, raw.toString, factDir)
    val before = canon(Refresh.fact(spark, factDir))
    // simulate the crash-between-commit-and-ledger path: drop the
    // ledger entry for one file and re-tick — its month is rewritten
    // with identical rows, other months untouched
    val ledger = new org.apache.hadoop.fs.Path(factDir, "processed_ledger")
    val fs = ledger.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(ledger, true)
    import spark.implicits._
    // ledger entries carry the filesystem scheme (globStatus form)
    Seq("file:" + raw.resolve("listings_01_2021.csv")).toDF("value")
      .coalesce(1).write.mode("overwrite").text(ledger.toString)
    val re = Refresh.refreshFact(spark, raw.toString, factDir)
    assert(re.size == 1 && re.head.endsWith("listings_05_2020.csv"))
    assert(canon(Refresh.fact(spark, factDir)) == before)
  }
}
