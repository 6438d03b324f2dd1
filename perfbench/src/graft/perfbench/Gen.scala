package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Seeded input generators for the three workloads. Everything here is
  * a pure function of (seed, size): the same arguments give
  * byte-identical inputs, which [[selfCheck]] asserts. The program under
  * test sees only the generated bytes; the expected results travel
  * alongside them and never reach it.
  */
object Gen {

  // ---- the reference's raw table (FIXTURES.md §1-§2) ----------------------

  sealed trait Kind
  case object Str extends Kind
  case object IntK extends Kind
  case object Num extends Kind

  /** (raw header, Field Config target, kind), in Field Config sheet
    * order (rows 2-67), with the config's Leads/leads and HOA/Taxes case
    * mixtures. */
  val columns: IndexedSeq[(String, String, Kind)] = IndexedSeq(
    ("Property_Title", "property", Str), ("Address", "property", Str),
    ("Reviewed_Status", "Leads", Str), ("Most_Recent_Status", "Leads", Str),
    ("Source", "leads", Str), ("Market", "property", Str),
    ("Occupancy", "leads", Str), ("Flood", "property", Str),
    ("Street_Address", "property", Str), ("City", "property", Str),
    ("State", "property", Str), ("Zip", "property", Str),
    ("Property_Type", "property", Str), ("Highway", "property", Str),
    ("Train", "property", Str), ("Tax_Rate", "property", Num),
    ("SQFT_Basement", "property", IntK), ("HTW", "property", Str),
    ("Pool", "property", Str), ("Commercial", "property", Str),
    ("Water", "property", Str), ("Sewage", "property", Str),
    ("Year_Built", "property", IntK), ("SQFT_MU", "property", IntK),
    ("SQFT_Total", "property", IntK), ("Parking", "property", Str),
    ("Bed", "property", IntK), ("Bath", "property", IntK),
    ("BasementYesNo", "property", Str), ("Layout", "property", Str),
    ("Net_Yield", "Leads", Num), ("IRR", "leads", Num),
    ("Rent_Restricted", "property", Str), ("Neighborhood_Rating", "property", IntK),
    ("Previous_Rent", "Valuation", IntK), ("List_Price", "Valuation", IntK),
    ("Zestimate", "Valuation", IntK), ("ARV", "Valuation", IntK),
    ("Expected_Rent", "Valuation", IntK), ("Rent_Zestimate", "Valuation", IntK),
    ("Low_FMR", "Valuation", IntK), ("High_FMR", "Valuation", IntK),
    ("HOA", "HOA", IntK),
    ("Underwriting_Rehab", "Rehab", IntK), ("Rehab_Calculation", "Rehab", IntK),
    ("Paint", "Rehab", Str), ("Flooring_Flag", "Rehab", Str),
    ("Foundation_Flag", "Rehab", Str), ("Roof_Flag", "Rehab", Str),
    ("HVAC_Flag", "Rehab", Str), ("Kitchen_Flag", "Rehab", Str),
    ("Bathroom_Flag", "Rehab", Str), ("Appliances_Flag", "Rehab", Str),
    ("Windows_Flag", "Rehab", Str), ("Landscaping_Flag", "Rehab", Str),
    ("Trashout_Flag", "Rehab", Str),
    ("Latitude", "property", Num), ("Longitude", "property", Num),
    ("Subdivision", "property", Str), ("Taxes", "Taxes", IntK),
    ("Redfin_Value", "Valuation", IntK), ("Selling_Reason", "Leads", Str),
    ("Seller_Retained_Broker", "leads", Str), ("HOA_Flag", "HOA", Str),
    ("Final_Reviewer", "Leads", Str), ("School_Average", "property", Num))

  /** Silver name of a raw header (the program's snake-casing, restated
    * so expected values can be keyed by silver column). */
  def silverName(h: String): String =
    h.replaceAll("([^A-Z_])([A-Z])", "$1_$2").toLowerCase

  private val words = Array("maple", "cedar", "oak", "river", "summit",
    "harbor", "meadow", "granite", "willow", "aspen", "lake", "pine")
  private val streets = Array("Ct", "St", "Ave", "Blvd", "Way", "Ln", "Dr")
  private val cities = Array("Atlanta", "Dallas", "Tampa", "Denver",
    "Phoenix", "Austin", "Memphis", "Raleigh", "Tulsa", "Omaha")
  private val states = Array("GA", "TX", "FL", "CO", "AZ", "TN", "NC", "OK", "NE")
  private val statuses = Array("New", "Reviewed", "Offer Sent", "Closed", "Rejected")
  private val yesNo = Array("Yes", "No")
  private val hoaValues = Array(0, 50, 100, 150, 200, 300, 450)

  /** A generated raw table: CSV bytes (header + rows) plus what the
    * program must produce from it. `cleaned(r)(c)` is the silver value
    * of cell (r, c) as text — trimmed and lowered strings, 'unknown' and
    * -1 for empty string and integer cells, None for empty numerics. */
  final case class Property(
      csv: Array[Byte], cleaned: IndexedSeq[IndexedSeq[Option[String]]],
      expected: Expected)

  /** Expected gold outcome: row counts of the six tables, the key
    * groups in id order (ids are dense and ordered by the property key,
    * so group g holds ids start(g) until start(g) + size(g)), and the
    * valuation list_price sum and count the serve aggregate must find. */
  final case class Expected(
      counts: Map[String, Long],
      groups: IndexedSeq[IndexedSeq[Int]],
      groupStart: IndexedSeq[Long],
      listPriceSum: BigInt)

  private def pad(rnd: java.util.Random, s: String): String = {
    val cased = rnd.nextInt(3) match {
      case 0 => s.toUpperCase
      case 1 => s.toLowerCase
      case _ => s
    }
    (" " * rnd.nextInt(3)) + cased + (" " * rnd.nextInt(3))
  }

  /** `v / 10^digits` as a decimal literal with exactly `digits`
    * fraction digits (String.format is too slow for 10^5 cells). */
  private def fixed(v: Long, digits: Int): String = {
    val p = math.pow(10, digits).toLong
    val frac = (v % p + p).toString.substring(1)
    s"${v / p}.$frac"
  }

  private def pick[T](rnd: java.util.Random, xs: Array[T]): T = xs(rnd.nextInt(xs.length))

  private def hex(bytes: Array[Byte]): String = {
    val sb = new StringBuilder
    bytes.foreach { b =>
      sb.append(Character.forDigit((b >> 4) & 0xf, 16)).append(Character.forDigit(b & 0xf, 16))
    }
    sb.toString
  }

  def sha16(s: String): String =
    hex(MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))).take(16)

  private val col: Map[String, Int] = columns.map(_._1).zipWithIndex.toMap

  /** `rows` raw property rows: 1 % duplicate (title, zip) keys (copied
    * from an earlier row with different padding and case), 2 % empty
    * cells outside the key columns, padded mixed-case strings, 21
    * possible (hoa, hoa_flag) pairs and about 900 taxes values. */
  def property(seed: Long, rows: Int): Property = {
    val rnd = new java.util.Random(seed * 7919L + 17L)
    val keyCols = Set("Property_Title", "Zip", "HOA", "Taxes")
    val raw = Array.ofDim[String](rows, columns.length)
    val titles = new Array[String](rows)
    val zips = new Array[String](rows)
    for (r <- 0 until rows) {
      val dup = r > 0 && rnd.nextInt(100) == 0
      if (dup) {
        val src = rnd.nextInt(r)
        titles(r) = titles(src); zips(r) = zips(src)
      } else {
        titles(r) = s"${pick(rnd, words).capitalize} ${pick(rnd, words).capitalize} ${100000 + r}"
        zips(r) = s"${10000 + rnd.nextInt(89999)}-${10000 + rnd.nextInt(10000)}".patch(6, "", 1)
      }
      for (((h, _, kind), c) <- columns.zipWithIndex) {
        val v: String = h match {
          case "Property_Title" => pad(rnd, titles(r))
          case "Zip" => zips(r)
          case "HOA" => hoaValues(rnd.nextInt(hoaValues.length)).toString
          case "HOA_Flag" =>
            // a third of the flags are empty: 7 values × {yes, no, unknown}
            if (rnd.nextInt(3) == 0) "" else pad(rnd, pick(rnd, yesNo))
          case "Taxes" => (500 + 7 * rnd.nextInt(900)).toString
          case "City" => pad(rnd, pick(rnd, cities))
          case "State" => pick(rnd, states)
          case "Address" | "Street_Address" =>
            pad(rnd, s"${1 + rnd.nextInt(9999)} ${pick(rnd, words).capitalize} ${pick(rnd, streets)}")
          case "Reviewed_Status" | "Most_Recent_Status" => pad(rnd, pick(rnd, statuses))
          case "Year_Built" => (1900 + rnd.nextInt(124)).toString
          case "Bed" => (1 + rnd.nextInt(6)).toString
          case "Bath" => (1 + rnd.nextInt(4)).toString
          case "Latitude" => fixed(25000000L + rnd.nextInt(20000000), 6)
          case "Longitude" => "-" + fixed(80000000L + rnd.nextInt(40000000), 6)
          case _ => kind match {
            case Str =>
              if (h.endsWith("_Flag") || h == "Pool" || h == "Commercial" ||
                  h == "BasementYesNo" || h == "Rent_Restricted" ||
                  h == "Seller_Retained_Broker") pad(rnd, pick(rnd, yesNo))
              else pad(rnd, s"${pick(rnd, words)} ${h.take(3).toLowerCase}${rnd.nextInt(40)}")
            case IntK => (rnd.nextInt(500) * (1 + c % 7) * 10).toString
            case Num => fixed(rnd.nextInt(2000), 2)
          }
        }
        raw(r)(c) = if (!keyCols(h) && h != "HOA_Flag" && rnd.nextInt(50) == 0) "" else v
      }
    }
    val cleaned = raw.toIndexedSeq.map(_.toIndexedSeq.zip(columns).map {
      case (v, (_, _, Str)) =>
        val t = v.trim.toLowerCase
        Some(if (t.isEmpty) "unknown" else t)
      case (v, (_, _, IntK)) => Some(if (v.isEmpty) "-1" else v)
      case (v, (_, _, Num)) => if (v.isEmpty) None else Some(v)
    })
    val sb = new StringBuilder
    sb.append(columns.map(_._1).mkString(",")).append('\n')
    raw.foreach(r => sb.append(r.mkString(",")).append('\n'))
    Property(sb.toString.getBytes(UTF_8), cleaned, expected(cleaned))
  }

  private def expected(cleaned: IndexedSeq[IndexedSeq[Option[String]]]): Expected = {
    val (t, z) = (col("Property_Title"), col("Zip"))
    def nk(r: Int) = s"${cleaned(r)(t).get}|${cleaned(r)(z).get}"
    def pk(r: Int) = sha16(cleaned(r)(t).get + cleaned(r)(z).get)
    val groups = cleaned.indices.groupBy(nk).values.toIndexedSeq
      .map(_.sorted).sortBy(g => (pk(g.head), nk(g.head)))
    val starts = groups.scanLeft(1L)(_ + _.size).dropRight(1)
    val n = cleaned.size.toLong
    val fanout = groups.map(g => g.size.toLong * g.size).sum
    val lp = col("List_Price")
    val lpSum = groups.map(g => BigInt(g.size) * g.map(r => BigInt(cleaned(r)(lp).get)).sum).sum
    val hoa = cleaned.map(r => (r(col("HOA")), r(col("HOA_Flag")))).distinct.size.toLong
    val taxes = cleaned.map(_(col("Taxes"))).distinct.size.toLong
    Expected(
      Map("property" -> n, "leads" -> fanout, "rehab" -> fanout,
        "valuation" -> fanout, "hoa" -> hoa, "taxes" -> taxes),
      groups, starts, lpSum)
  }

  /** The 66-row Field Config workbook as (header +) rows of strings. */
  def fieldConfigRows: Seq[Seq[String]] =
    Seq("Column Name", "Target Table") +: columns.map { case (h, t, _) => Seq(h, t) }

  // ---- the training corpus ------------------------------------------------

  val langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")
  private val otherLangs = Array("de", "es", "fr", "zh")
  private val enMarkers = Array("the", "and", "of", "to", "in", "is", "data", "table")
  val copies = 10
  val copyOffset = 10000000L

  /** (doc_id, text, lang, source) rows. */
  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `base` synthetic documents, then [[copies]] vocabulary-rotated
    * copies of them (the scale-rehearsal technique: content word i maps
    * to word (i + offset) mod V in each copy, ids shift by
    * [[copyOffset]]), with the rotation offsets drawn from the seed. The
    * base set carries near-duplicates (one word changed), short docs the
    * length filter drops, marker-free docs the stop-ratio filter drops,
    * and e-mail / phone PII for the redaction step. */
  def corpus(seed: Long, base: Int): IndexedSeq[Doc] = {
    val rnd = new java.util.Random(seed * 104729L + 3L)
    val vocabSize = 4000
    val vocab = IndexedSeq.tabulate(vocabSize) { i =>
      val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po")
      var x = i + 1; val sb = new StringBuilder
      while (x > 0) { sb.append(syll(x % 10)); x /= 10 }
      sb.toString
    }
    // Zipf-ish word choice: squaring a uniform favours low indices
    def word(): Int = { val u = rnd.nextDouble(); (u * u * vocabSize).toInt }
    // a base doc is (lang, token list); token >= 0 is a content word
    // index, token < 0 a marker (not rotated)
    val docs = new Array[(String, IndexedSeq[Int], String)](base)
    for (i <- 0 until base) {
      val lang = { val u = rnd.nextInt(100); if (u < 40) "en" else otherLangs(u % 4) }
      val near = i > 10 && rnd.nextInt(100) < 8
      val toks: IndexedSeq[Int] =
        if (near) {
          val (_, src, _) = docs(rnd.nextInt(i))
          if (src.length < 6) src
          else src.updated(rnd.nextInt(src.length), word())
        } else {
          val len = if (rnd.nextInt(100) < 4) 1 + rnd.nextInt(4) else 20 + rnd.nextInt(100)
          val noMarkers = rnd.nextInt(100) < 5
          IndexedSeq.fill(len)(
            if (!noMarkers && rnd.nextInt(100) < 12) -1 - rnd.nextInt(enMarkers.length)
            else word())
        }
      val pii = rnd.nextInt(10) match {
        case 0 | 1 | 2 => s" contact user${rnd.nextInt(100000)}@example.com"
        case 3 | 4 => f" call ${rnd.nextInt(1000)}%03d-${rnd.nextInt(1000)}%03d-${rnd.nextInt(10000)}%04d"
        case _ => ""
      }
      docs(i) = (lang, toks, pii)
    }
    val offsets = IndexedSeq.fill(copies)(rnd.nextInt(vocabSize))
    for (c <- 0 until copies; i <- 0 until base) yield {
      val (lang, toks, pii) = docs(i)
      val text = toks.map(t =>
        if (t < 0) enMarkers(-1 - t) else vocab((t + offsets(c)) % vocabSize)).mkString(" ") + pii
      Doc(c * copyOffset + i + 1, text, lang, s"src${i % 7}")
    }
  }

  /** md5 over a byte image — the self-check's fingerprint. */
  def md5Hex(bytes: Array[Byte]): String =
    hex(MessageDigest.getInstance("MD5").digest(bytes))

  def corpusBytes(docs: Seq[Doc]): Array[Byte] =
    docs.map(d => s"${d.id}\t${d.lang}\t${d.source}\t${d.text}").mkString("\n").getBytes(UTF_8)

  /** Same seed → byte-identical inputs; another seed → different ones.
    * Returns the failures (empty when the generator is deterministic). */
  def selfCheck(seed: Long, rows: Int, base: Int): Seq[String] = {
    def fp(s: Long) = (md5Hex(property(s, rows).csv), md5Hex(corpusBytes(corpus(s, base))))
    val (a, b, c) = (fp(seed), fp(seed), fp(seed + 1))
    Seq(
      Option.when(a._1 != b._1)("property csv differs for the same seed"),
      Option.when(a._2 != b._2)("corpus differs for the same seed"),
      Option.when(a._1 == c._1)("property csv equal for different seeds"),
      Option.when(a._2 == c._2)("corpus equal for different seeds")).flatten
  }
}
