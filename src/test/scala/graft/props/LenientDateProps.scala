package graft.props

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import graft.expressions.LenientDate
import graft.ops.{Cleansing, LenientDateCascade}

/** `Cleansing.parseDateLenient` (the [[LenientDate]] kernel) ≡ the
  * Column cascade it replaced ([[LenientDateCascade]]), row by row in one
  * DataFrame, over every q225 rendering and the shapes around them:
  * locale months with and without accents, ordinals, two-digit years on
  * both sides of the 2050 pivot, `T` and space datetimes, whitespace and
  * upper-case noise, impossible calendar dates, near-miss garbage, empty
  * strings and nulls. A second property holds the kernel's interpreted
  * eval to its generated code. */
object LenientDateProps extends Properties("graft.lenientdate") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private lazy val spark = graft.GraftSession.local(4)

  private val genDate: Gen[LocalDate] = Gen.frequency(
    // TPC-H order dates, what q225 renders
    2 -> Gen.choose(LocalDate.of(1992, 1, 1).toEpochDay,
      LocalDate.of(1998, 12, 31).toEpochDay),
    // wide enough for both sides of the two-digit-year pivot
    3 -> Gen.choose(LocalDate.of(1900, 1, 1).toEpochDay,
      LocalDate.of(2099, 12, 31).toEpochDay)
  ).map(LocalDate.ofEpochDay)

  private def render(d: LocalDate, p: String): String =
    DateTimeFormatter.ofPattern(p, Locale.US).format(d)

  private def ordinal(day: Int): String =
    if (Set(11, 12, 13)(day % 100)) "th"
    else day % 10 match {
      case 1 => "st"
      case 2 => "nd"
      case 3 => "rd"
      case _ => "th"
    }

  private def stripAccents(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}", "")

  /** Every shape q225 renders, then the cascade's other branches. */
  private def renderings(d: LocalDate, h: Int, m: Int, s: Int): Seq[String] = {
    val day = d.getDayOfMonth
    val yr = d.getYear.toString
    val mi = d.getMonthValue - 1
    val ord = s"$day${ordinal(day)}"
    val hm = f"$h:$m%02d"
    val hms = f"$h:$m%02d:$s%02d"
    val de = LenientDate.monthsDe(mi)
    Seq(
      render(d, "d/M/yyyy"), render(d, "d-M-yyyy"), render(d, "yyyy-MM-dd"),
      render(d, "d.M.yyyy"), render(d, "yyyyMMdd"), render(d, "d MMM yyyy"),
      render(d, "MMMM d, yyyy"), render(d, "d MMMM yyyy"),
      s"$ord ${render(d, "MMMM yyyy")}", render(d, "d/M/yy"),
      s"$day ${LenientDate.monthsIt(mi)} $yr",
      s"$day ${LenientDate.monthsItAbbr(mi)} $yr",
      s"$day ${LenientDate.monthsFr(mi)} $yr",
      s"$day. ${de.capitalize} $yr",
      s"$day de ${LenientDate.monthsEs(mi)} de $yr",
      s"${render(d, "d/M/yyyy")} $hm",
      s"${render(d, "yyyy-MM-dd")}T$hms", s"${render(d, "yyyy-MM-dd")} $hms",
      // the other branches and their neighbours
      render(d, "yyyy/M/d"), render(d, "yyyy-M-d"), render(d, "dd/MM/yyyy"),
      render(d, "d-MMM-yyyy"), render(d, "MMMM d yyyy"),
      render(d, "MMM d, yyyy"), render(d, "MMM d yyyy"),
      s"${render(d, "MMMM")} $ord ${yr}", s"${render(d, "MMMM")} $ord, $yr",
      s"$ord ${render(d, "MMM yyyy")}", s"$ord of ${render(d, "MMMM yyyy")}",
      s"${render(d, "d/M/yyyy")} $hms", s"${render(d, "yyyy-MM-dd")} $hm",
      s"${render(d, "yyyy-MM-dd")}T$hm", s"${render(d, "yyyy-M-d")}T$hms",
      s"${render(d, "yyyy-MM-dd")}t$hms", s"${render(d, "yyyy-MM-dd")}T$hms.123",
      render(d, "d-M-yy"), render(d, "d.M.yy"),
      stripAccents(s"$day ${LenientDate.monthsFr(mi)} $yr"),
      stripAccents(s"$day. ${de.capitalize} $yr"),
      s"$day. $de $yr", s"$day.$de $yr", s"$day-${LenientDate.monthsIt(mi)}-$yr",
      s"$ord ${LenientDate.monthsIt(mi)} $yr",
      s"$day de ${LenientDate.monthsEs(mi)} $yr",
      s"$day DE ${LenientDate.monthsEs(mi).toUpperCase(Locale.ROOT)} DE $yr")
  }

  private val genRendering: Gen[String] = for {
    d <- genDate
    h <- Gen.choose(0, 23)
    m <- Gen.choose(0, 59)
    s <- Gen.choose(0, 59)
    r <- Gen.oneOf(renderings(d, h, m, s))
  } yield r

  /** Day, month and year each possibly out of range, in numeric shapes. */
  private val genBadCalendar: Gen[String] = for {
    d <- Gen.choose(0, 32)
    m <- Gen.choose(0, 13)
    y <- Gen.oneOf(Gen.choose(1900, 2099).map(_.toString),
      Gen.choose(0, 99).map(v => f"$v%02d"))
    sep <- Gen.oneOf("/", "-", ".")
    iso <- Gen.oneOf(false, true)
  } yield if (iso && y.length == 4) s"$y$sep$m$sep$d" else s"$d$sep$m$sep$y"

  private val garbage: Seq[String] = Seq(
    "31/2/2024", "29/2/2023", "00/01/2020", "29/2/2024", "29/2/00",
    "29/2/1900", "1st-2nd-3rd", "21st century", "5 frobuary 2025", "5 marzo",
    "5 de marzo", "not a date", "", " ", "\t", "T", "2025-", "2025-03-05T",
    "2025-03-05T25:00:00", "5/3/2025 24:00", "March", "0th March 2025",
    "32nd March 2025", "March 5th", "5 GENNAİO 2025", "5 Μαρτίου 2025",
    "2025-13-01 10:00", "99999999", "2025030", "5//2025", "5/3/2025/",
    "5 mar. 2025", "5 Sept 2025", "Sept 5, 2025", "1 1 2025", "1-jan-25")

  /** A rendering with one character deleted, inserted, replaced or the
    * whole string doubled: near misses of every guard. */
  private val genMutated: Gen[String] = for {
    s <- genRendering
    i <- Gen.choose(0, s.length - 1)
    op <- Gen.choose(0, 3)
    ch <- Gen.oneOf("0123456789/-.: TtaéSN".toSeq)
  } yield op match {
    case 0 => s.patch(i, "", 1)
    case 1 => s.patch(i, ch.toString, 0)
    case 2 => s.patch(i, ch.toString, 1)
    case _ => s + " " + s
  }

  private val genNoisy: Gen[String] = for {
    s <- Gen.frequency(8 -> genRendering, 2 -> genBadCalendar,
      2 -> genMutated, 1 -> Gen.oneOf(garbage))
    lead <- Gen.frequency(16 -> "", 1 -> " ", 1 -> "  ", 1 -> "\t", 1 -> "\n")
    trail <- Gen.frequency(16 -> "", 1 -> " ", 1 -> "\t", 1 -> "\n", 1 -> "\r\n")
    upper <- Gen.frequency(6 -> false, 1 -> true)
  } yield lead + (if (upper) s.toUpperCase(Locale.ROOT) else s) + trail

  private val genInput: Gen[Option[String]] =
    Gen.frequency(40 -> genNoisy.map(Some(_)), 1 -> Gen.const(None))

  private def show(rows: Seq[(Option[String], Any, Any)]): String =
    rows.take(8).map { case (s, a, b) =>
      s"${s.map(v => "\"" + v.replace("\n", "\\n").replace("\t", "\\t") + "\"")}: $a vs $b"
    }.mkString("; ")

  property("kernel ≡ the Column cascade, row by row") =
    forAllNoShrink(Gen.listOfN(5000, genInput)) { in =>
      import spark.implicits._
      val out = in.toDF("s").select(col("s"),
        Cleansing.parseDateLenient(col("s")).as("kernel"),
        LenientDateCascade.parseDateLenient(col("s")).as("cascade"))
        .collect().map(r => (Option(r.getString(0)), r.get(1), r.get(2)))
      val parsed = out.count(_._2 != null)
      val bad = out.filter { case (_, k, c) => k != c }
      (out.length == in.length && parsed > in.length / 4 && bad.isEmpty) :|
        s"${bad.length} of ${out.length} rows differ ($parsed parsed): ${show(bad.toSeq)}"
    }

  property("interpreted eval ≡ generated code") =
    forAllNoShrink(Gen.listOfN(2000, genInput)) { in =>
      import spark.implicits._
      val zone = spark.conf.get("spark.sql.session.timeZone")
      val kernel = LenientDate(BoundReference(0, StringType, nullable = true), Some(zone))
      val out = in.toDF("s").select(col("s"), Cleansing.parseDateLenient(col("s")).as("d"))
        .selectExpr("s", "unix_date(d) AS d")
        .collect().map(r => (Option(r.getString(0)), r.get(1)))
      val bad = out.toSeq.map { case (s, gen) =>
        (s, gen, kernel.eval(InternalRow(s.map(UTF8String.fromString).orNull)))
      }.filter { case (_, gen, interp) => gen != interp }
      bad.isEmpty :| s"${bad.length} rows differ: ${show(bad)}"
    }
}
