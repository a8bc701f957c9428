package perfbench

import java.io.{BufferedOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

import graft.pipeline.ListingSchema

/** Seeded reference-shape raw corpus: twelve monthly listing CSVs
  * (05_2020 .. 04_2021) with the reference's schema-variant split (106
  * mixed-case columns for 05/06_2020, 102 for 07_2020, the canonical 74
  * for the rest), the census and geography side files, and one late
  * second file for 03_2021 that the refresh workload lands on an
  * already-committed month.
  *
  * The recipe follows the reference-scale test fixtures but draws every
  * value from a seeded generator, so the text the CSV reader and the
  * staging casts chew through looks like a real scrape: multi-line quoted
  * descriptions with embedded quotes and commas, every NULL_IF spelling
  * ('', 'NULL', 'NUL', '\N') in the nullable columns, '$1,234.00' prices
  * with hundreds of distinct values per KPI group, per-file duplicate
  * (id, filename) rows, out-of-month scrapes and suburb spellings that
  * need the fact's normalisation and LGA fix-ups.
  *
  * While writing, the generator replays the staging dedup, the fact
  * filters and the LGA resolution row by row, and keeps the per-group
  * aggregates the KPI views must reproduce ([[Expected]]).
  */
object Corpus {

  val months: Seq[(Int, Int)] = (5 to 12).map((_, 2020)) ++ (1 to 4).map((_, 2021))

  def fileName(month: Int, year: Int): String = f"listings_$month%02d_$year%d.csv"

  /** The late second file for month index 11 (03_2021). Its name parses
    * to the same (year, month) as `listings_03_2021.csv`. */
  val lateFile: String = "listings_b_03_2021.csv"
  val lateMonthIndex: Int = 11

  val sideFiles: Seq[String] = Seq("2021Census_G01_NSW_LGA.csv",
    "2021Census_G02_NSW_LGA.csv", "LGA_2020_NSW.csv", "SSC_2016_AUST.csv")

  /** LGA (name, code) and the suburbs that belong to it, as the SSC side
    * file spells them. */
  private val lgas: Seq[(String, Int, Seq[String])] = Seq(
    ("SYDNEY", 17200, Seq("Sydney", "Pyrmont", "Ultimo", "Surry Hills", "Redfern", "Haymarket")),
    ("WAVERLEY", 18050, Seq("Bondi Beach", "Bronte", "Tamarama", "Bondi Junction")),
    ("RANDWICK", 16550, Seq("Coogee", "Randwick", "Maroubra", "Clovelly")),
    ("NORTHERN BEACHES", 16370, Seq("Manly", "North Curl Curl", "Dee Why", "Avalon Beach")),
    ("INNER WEST", 14170, Seq("Newtown", "Marrickville", "Balmain", "St Peters")),
    ("NORTH SYDNEY", 15950, Seq("Neutral Bay", "Cremorne", "Kirribilli")),
    ("STRATHFIELD", 17100, Seq("Strathfield", "Homebush")),
    ("PARRAMATTA", 16260, Seq("Parramatta", "Harris Park", "Westmead")))

  private val suburbLga: Map[String, String] =
    lgas.flatMap { case (l, _, subs) => subs.map(_.toUpperCase -> l) }.toMap
  private val allSuburbs: IndexedSeq[String] = lgas.flatMap(_._3).toIndexedSeq
  /** Scrape spellings that miss the dim and take the sentinel path. */
  private val unknownSuburbs = IndexedSeq("Wollongong", "Blue Mountains", "Katoomba")
  /** Spellings only the fact's manual fix-ups resolve. */
  private val fixupSpellings = IndexedSeq(
    "North Curl Curl Beach" -> "NORTHERN BEACHES", "Cockle Bay Darling Harbour" -> "SYDNEY",
    "悉尼" -> "SYDNEY", "СИДНЕЙ" -> "SYDNEY", "스트라스필드" -> "STRATHFIELD")
  private val propertyTypes = IndexedSeq("Entire apartment", "Private room in apartment",
    "Entire house", "Private room in house", "Entire condominium", "Entire townhouse",
    "Entire guest suite", "Shared room in hostel", "Entire cottage", "Entire loft")
  private val roomTypes = IndexedSeq("Entire home/apt", "Private room", "Shared room", "Hotel room")
  private val nullSpellings = IndexedSeq("", "NULL", "NUL", "\\N")
  private val words = IndexedSeq("harbour", "view", "cosy", "bright", "studio", "walk",
    "beach", "cafe", "train", "quiet", "spacious", "modern", "garden", "balcony", "light",
    "rail", "bus", "park", "city", "heritage", "terrace", "pool", "kitchen", "family")

  /** Canonical columns missing from, and extra columns added to, the
    * wide early-2020 scrapes. */
  private val extras = Seq("summary", "space", "experiences_offered", "notes", "transit",
    "access", "interaction", "house_rules", "thumbnail_url", "medium_url", "xl_picture_url",
    "street", "city", "state", "zipcode", "market", "smart_location", "country_code",
    "country", "is_location_exact", "square_feet", "weekly_price", "monthly_price",
    "security_deposit", "cleaning_fee", "guests_included", "extra_people", "has_license",
    "jurisdiction_names", "cancellation_policy", "require_guest_profile_picture",
    "require_guest_phone_verification", "region_id", "region_name")

  /** Per-group aggregates of one KPI view, as the view must report them. */
  final class Agg {
    var n = 0L
    val hosts = mutable.HashSet.empty[Long]
    val superhosts = mutable.HashSet.empty[Long]
    val prices = mutable.ArrayBuffer.empty[BigDecimal]
    var priceSum = BigDecimal(0)
    var nActive = 0L
    var nInactive = 0L
    var revenueActive = BigDecimal(0)

    def add(r: FactRow): Unit = {
      n += 1
      hosts += r.hostId
      prices += r.price
      priceSum += r.price
      if (r.superhost) superhosts += r.hostId
      r.available match {
        case Some(true) =>
          nActive += 1
          revenueActive += (30 - r.availability30) * r.price
        case Some(false) => nInactive += 1
        case None =>
      }
    }

    /** percentile_cont(0.5), interpolated in double as Spark's
      * Percentile does. */
    def median: Double = {
      val s = prices.sorted.map(_.toDouble)
      val pos = (s.length - 1) * 0.5
      val (lo, hi) = (pos.floor, pos.ceil)
      if (lo == hi) s(lo.toInt) else (hi - pos) * s(lo.toInt) + (pos - lo) * s(hi.toInt)
    }
  }

  final case class FactRow(year: Int, month: Int, hostId: Long,
                           price: BigDecimal, superhost: Boolean, available: Option[Boolean],
                           availability30: Int, neighbourhoodLga: String,
                           cleansed: Option[String], hostLga: String,
                           propertyType: String, roomType: String, accommodates: Int)

  /** View name -> group key -> aggregates. */
  final class Expected {
    val views: Map[String, mutable.Map[Seq[Any], Agg]] =
      Seq("kpi_neighbourhood", "kpi_neighbourhood_raw", "kpi_property_type", "kpi_host")
        .map(_ -> mutable.LinkedHashMap.empty[Seq[Any], Agg]).toMap

    def add(r: FactRow): Unit = {
      def put(v: String, k: Seq[Any]): Unit =
        views(v).getOrElseUpdate(k, new Agg).add(r)
      put("kpi_neighbourhood", Seq(r.neighbourhoodLga, r.year, r.month))
      // NULL raw areas split per arm in the view; the gate skips them
      r.cleansed.foreach(c => put("kpi_neighbourhood_raw", Seq(c, r.year, r.month)))
      put("kpi_property_type", Seq(r.propertyType, r.roomType, r.accommodates, r.year, r.month))
      put("kpi_host", Seq(r.hostLga, r.year, r.month))
    }
  }

  final case class Stats(files: Int, rows: Long, bytes: Long, sha256: String)

  /** What the fact's suburb normalisation makes of a scrape spelling
    * (Cleanse.normSuburb). */
  private def normSuburb(s: String): String = {
    val stripped = Seq("COUNCIL", "CITY OF", "OF THE")
      .foldLeft(s.trim.toUpperCase)((acc, w) => acc.replace(w, ""))
    stripped.replace("SAINT ", "ST ").trim
  }

  /** The fact's LGA resolution for a normalised suburb (or its absence). */
  private def resolveLga(suburb: Option[String], sentinel: String): String = suburb match {
    case None => sentinel
    case Some(s) if s.startsWith("NORTH CURL CURL") => "NORTHERN BEACHES"
    case Some(s) if s.endsWith("DARLING HARBOUR") => "SYDNEY"
    case Some("悉尼") | Some("СИДНЕЙ") | Some("РЕДФЕРН") => "SYDNEY"
    case Some("스트라스필드") => "STRATHFIELD"
    case Some(s) => suburbLga.getOrElse(s, sentinel)
  }

  private def quote(v: String): String = "\"" + v.replace("\"", "\"\"") + "\""

  /** Writes the corpus under `dir` (the late file under `lateDir`) and
    * returns its stats and the generator-derived expectations over the
    * twelve monthly files. */
  def write(dir: Path, lateDir: Path, seed: Long, rowsPerMonth: Int): (Stats, Expected) = {
    Files.createDirectories(dir)
    Files.createDirectories(lateDir)
    val expected = new Expected
    var rows = 0L
    months.zipWithIndex.foreach { case ((month, year), i) =>
      val m = i + 1
      val n = rowsPerMonth + 40 * m
      rows += writeListings(dir.resolve(fileName(month, year)), seed, m, month, year, n,
        idBase = 0L, expected)
    }
    val (lm, ly) = months(lateMonthIndex - 1)
    writeListings(lateDir.resolve(lateFile), seed, 100 + lateMonthIndex, lm, ly,
      rowsPerMonth / 8, idBase = 50000000L, new Expected)
    writeSideFiles(dir)
    val digest = MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    val names = (months.map { case (mo, y) => fileName(mo, y) } ++ sideFiles).sorted
    names.foreach { f =>
      val b = Files.readAllBytes(dir.resolve(f))
      bytes += b.length
      digest.update(f.getBytes(StandardCharsets.UTF_8))
      digest.update(b)
    }
    val sha = digest.digest().map("%02x".format(_)).mkString
    (Stats(names.length, rows, bytes, sha), expected)
  }

  private def writeListings(path: Path, seed: Long, stream: Int, month: Int, year: Int,
                            n: Int, idBase: Long, expected: Expected): Long = {
    val C = ListingSchema.columns
    val m = stream
    val (cols, mixedCase) =
      if (m <= 2) (C.filterNot(Set("bathrooms_text", "number_of_reviews_l30d")) ++ extras, true)
      else if (m == 3) (C.filterNot(Set("number_of_reviews_l30d", "bathrooms")) ++ extras.take(30), false)
      else (C, false)
    val idx = cols.zipWithIndex.toMap
    val rnd = new SplittableRandom(seed * 1000003L + stream)
    val file = path.getFileName.toString
    val w: Writer = new OutputStreamWriter(
      new BufferedOutputStream(Files.newOutputStream(path), 1 << 20), StandardCharsets.UTF_8)
    w.write((if (mixedCase) cols.map(_.capitalize) else cols).map(quote).mkString(","))
    val daysInMonth = java.time.YearMonth.of(year, month).lengthOfMonth
    var written = 0L
    // each surviving staging row, in file order; the fact keeps those
    // that pass its filters
    val hostPool = math.max(8, n / 3)

    def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))
    def chance(p: Double): Boolean = rnd.nextDouble() < p
    def nullOr(p: Double)(v: => String): Option[String] =
      if (chance(p)) None else Some(v)
    def sentence(k: Int): String = Seq.fill(k)(pick(words)).mkString(" ")

    def emit(fields: Array[String]): Unit = {
      w.write("\n")
      var c = 0
      while (c < fields.length) {
        if (c > 0) w.write(",")
        w.write(quote(fields(c)))
        c += 1
      }
      written += 1
    }

    for (j <- 0 until n) {
      val fields = Array.fill(cols.length)("")
      def put(c: String, v: Option[String]): Unit =
        idx.get(c).foreach(fields(_) = v.getOrElse(pick(nullSpellings)))

      val id = idBase + m * 1000000L + j
      val hostId = nullOr(0.01)((300000L + rnd.nextInt(hostPool)).toString)
      val valid = chance(0.985)
      val day = if (valid) 2 + rnd.nextInt(daysInMonth - 1) else 1 + rnd.nextInt(27)
      val scraped =
        if (valid) f"$year%d-$month%02d-$day%02d"
        else { val d = java.time.LocalDate.of(year, month, 1).plusMonths(1).plusDays(day - 1); d.toString }
      // prices: a wide, skewed range so a KPI group holds hundreds of
      // distinct values; ~1% NULL spellings
      val dollars = (math.exp(3.5 + rnd.nextDouble() * 4.0)).toInt + 20
      val cents = if (chance(0.8)) 0 else rnd.nextInt(100)
      val price = nullOr(0.01)(
        String.format(java.util.Locale.ROOT, "$%,d.%02d", Int.box(dollars), Int.box(cents)))
      val superhost = nullOr(0.02)(if (chance(0.25)) "t" else "f")
      val avail = nullOr(0.02)(if (chance(0.6)) "t" else "f")
      val a30 = rnd.nextInt(31)
      // neighbourhood spelling: dim suburbs in several casings, fix-up
      // spellings, unknown suburbs and NULL spellings
      val (neigh, neighNorm): (Option[String], Option[String]) = {
        val r = rnd.nextDouble()
        if (r < 0.03) (None, None)
        else if (r < 0.06) { val s = pick(unknownSuburbs); (Some(s), Some(normSuburb(s))) }
        else if (r < 0.09) { val (s, _) = pick(fixupSpellings); (Some(s), Some(normSuburb(s))) }
        else {
          val s = pick(allSuburbs)
          val spelled = rnd.nextInt(4) match {
            case 0 => s
            case 1 => "  " + s.toLowerCase + " "
            case 2 => "City of " + s
            case _ => s + " Council"
          }
          (Some(spelled), Some(normSuburb(spelled)))
        }
      }
      val hostSub: Option[String] = {
        val r = rnd.nextDouble()
        if (r < 0.05) None
        else if (r < 0.08) Some(pick(unknownSuburbs))
        else Some(pick(allSuburbs))
      }
      val hostLocation = hostSub.map(s => s"$s, New South Wales, Australia")
      val cleansed = nullOr(0.03)(pick(allSuburbs))
      val pt = pick(propertyTypes)
      val rt = pick(roomTypes)
      val acc = 1 + rnd.nextInt(8)

      put("id", Some(id.toString))
      put("listing_url", Some(s"https://www.airbnb.com/rooms/$id"))
      put("scrape_id", Some(f"20$year%d$month%02d01"))
      put("last_scraped", Some(scraped))
      put("name", Some(s"${sentence(3)} #$j"))
      put("description", nullOr(0.05)(
        s"""${sentence(5)}, "${sentence(2)}" ${sentence(2)}.
${sentence(4)}, ${sentence(2)}."""))
      put("neighborhood_overview", nullOr(0.6)(s"${sentence(4)},\n${sentence(3)}"))
      put("picture_url", Some(s"https://a0.muscache.com/pictures/$id-$j.jpg"))
      put("host_id", hostId)
      put("host_url", hostId.map(h => s"https://www.airbnb.com/users/show/$h"))
      put("host_name", Some(pick(words).capitalize))
      put("host_since", Some(f"${2010 + rnd.nextInt(10)}%d-${1 + rnd.nextInt(12)}%02d-01"))
      put("host_location", hostLocation)
      put("host_about", nullOr(0.7)(s"""Hi, I'm "${pick(words)}": ${sentence(3)}"""))
      put("host_response_time", nullOr(0.2)("within an hour"))
      put("host_response_rate", nullOr(0.2)(s"${50 + rnd.nextInt(51)}%"))
      put("host_is_superhost", superhost)
      put("host_listings_count", Some((1 + rnd.nextInt(20)).toString))
      put("host_total_listings_count", Some((1 + rnd.nextInt(20)).toString))
      put("host_verifications", Some("['email', 'phone', 'reviews']"))
      put("host_has_profile_pic", Some("t"))
      put("host_identity_verified", Some(if (chance(0.7)) "t" else "f"))
      put("neighbourhood", neigh)
      put("neighbourhood_cleansed", cleansed)
      put("latitude", Some(f"${-33.9 + rnd.nextDouble() * 0.3}%.5f"))
      put("longitude", Some(f"${151.1 + rnd.nextDouble() * 0.3}%.5f"))
      put("property_type", Some(pt))
      put("room_type", Some(rt))
      put("accommodates", Some(acc.toString))
      put("bathrooms", nullOr(0.1)((1 + rnd.nextInt(3)).toString))
      put("bathrooms_text", Some(s"${1 + rnd.nextInt(3)} baths"))
      put("bedrooms", nullOr(0.1)((1 + rnd.nextInt(4)).toString))
      put("beds", nullOr(0.1)((1 + rnd.nextInt(5)).toString))
      put("amenities", Some(Seq.fill(3)(pick(words)).map(a => "\"" + a + "\"").mkString("[", ", ", "]")))
      put("price", price)
      put("minimum_nights", Some((1 + rnd.nextInt(7)).toString))
      put("maximum_nights", Some((30 + rnd.nextInt(1096)).toString))
      put("has_availability", avail)
      put("availability_30", Some(a30.toString))
      put("availability_60", Some((a30 + rnd.nextInt(31)).toString))
      put("availability_90", Some((a30 + rnd.nextInt(61)).toString))
      put("availability_365", Some(rnd.nextInt(366).toString))
      put("calendar_last_scraped", Some(scraped))
      put("number_of_reviews", Some(rnd.nextInt(300).toString))
      put("number_of_reviews_ltm", Some(rnd.nextInt(50).toString))
      put("first_review", nullOr(0.2)("2019-06-01"))
      put("last_review", nullOr(0.2)(scraped))
      put("review_scores_rating", nullOr(0.2)((60 + rnd.nextInt(41)).toString))
      put("license", nullOr(0.7)(s"PID-STRA-${rnd.nextInt(99999)}"))
      put("instant_bookable", Some(if (chance(0.4)) "t" else "f"))
      put("reviews_per_month", nullOr(0.2)(f"${rnd.nextDouble() * 5}%.2f"))
      emit(fields)

      // a per-file duplicate scraped a day earlier: staging keeps the
      // later row, so the duplicate never reaches the fact
      if (valid && chance(0.02)) {
        val dup = fields.clone()
        dup(idx("last_scraped")) = f"$year%d-$month%02d-${day - 1}%02d"
        dup(idx("name")) = s"stale copy #$j"
        idx.get("price").foreach(dup(_) = "$1.00")
        emit(dup)
      }

      val parsedPrice = price.map(p => BigDecimal(p.drop(1).replace(",", "")))
      if (valid && hostId.isDefined && parsedPrice.isDefined) {
        expected.add(FactRow(year, month, hostId.get.toLong, parsedPrice.get,
          superhost.contains("t"), avail.map(_ == "t"), a30,
          resolveLga(neighNorm, "OTHER"),
          cleansed, resolveLga(hostSub.map(_.trim.toUpperCase), "MISSING"), pt, rt, acc))
      }
    }
    w.close()
    written
  }

  private def writeSideFiles(dir: Path): Unit = {
    def writeCsv(name: String, header: Seq[String], rows: Seq[Seq[String]]): Unit = {
      val lines = header.map(quote).mkString(",") +: rows.map(_.map(quote).mkString(","))
      Files.write(dir.resolve(name), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    def key(code: Int) = s"LGA$code"
    writeCsv("2021Census_G01_NSW_LGA.csv", (1 to 70).map(i => s"x$i"),
      lgas.map { case (_, code, _) =>
        (1 to 70).map {
          case 1 => key(code)
          case 4 => (code * 7 % 90000 + 10000).toString
          case 55 => (code % 3000).toString
          case 70 => (code * 5 % 80000 + 5000).toString
          case _ => ""
        }
      })
    writeCsv("2021Census_G02_NSW_LGA.csv", (1 to 9).map(i => s"y$i"),
      lgas.map { case (_, code, _) =>
        Seq(key(code), (30 + code % 15).toString, (1800 + code % 900).toString,
          "", "", "", "", "", f"${2.0 + (code % 10) / 10.0}%.1f")
      })
    writeCsv("LGA_2020_NSW.csv", Seq("k", "code", "label"),
      lgas.map { case (name, code, _) => Seq(key(code), code.toString, s"$name (A)") })
    writeCsv("SSC_2016_AUST.csv", Seq("k", "u1", "suburb", "u2", "u3", "area"),
      lgas.flatMap { case (_, code, subs) =>
        subs.zipWithIndex.map { case (s, i) =>
          Seq(key(code), "", s"$s (NSW)", "", "", (10 + i * 3).toString)
        }
      })
  }
}
