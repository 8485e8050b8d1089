package graft.expressions

import java.text.ParseException
import java.time.{DateTimeException, LocalDate, ZoneId}
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport, DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DateType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Lenient day-first date parse — the pandas `to_datetime(dayfirst=True)`
  * tolerance the reference relies on (timesheet_transform.py:49,121) — as
  * one codegen'd expression.
  *
  * Day-first numeric formats take precedence (mirrors `dayfirst=True`),
  * then the unambiguous shapes dateutil also accepts: ISO with either
  * separator, dotted European, compact 8-digit, English month names
  * (short and full), ordinal day suffixes ("7th March 2024", "March 7th,
  * 2024" — the suffix is stripped before the month-name branches),
  * datetime strings truncated to their date, two-digit years day-first
  * ("7/3/24") and the European month names of [[LenientDate.localeMonths]].
  * Two-digit years pivot at the FIXED POSIX boundary — 00-49 → 20xx,
  * 50-99 → 19xx — where dateutil pivots ±50 years around the CURRENT
  * date; fixed wins here because a parse that changes meaning with the
  * wall clock can never be oracle-checked (divergence only for years
  * 2050+). Later branches only fire when every earlier one fails (a
  * 4-digit day never parses; month names never parse numerically), so
  * widening the cascade cannot change the meaning of a string an earlier
  * branch accepted. Null on total failure — the callers' row-skip
  * contract.
  *
  * Why a custom Expression: the same 20 branches written as a Column
  * `coalesce` of RLIKE-guarded `try_to_date`s is a plan of several
  * hundred expression nodes. The optimizer copies it into every filter it
  * pushes down, where the generated predicate outgrows Janino's 64 KB
  * method limit and the whole stage falls back from codegen, and the
  * all-shapes query spends seconds planning it. Here the generated code is
  * one call into [[LenientDateParser]].
  *
  * The parser is a transliteration of that cascade, not a redesign: same
  * branches, same order, same `hasAlpha`/`num` gates, the same guard
  * regexes tested with `find()` (what RLIKE does), the same
  * `regexp_replace` rewrites, month words lower-cased as `lower()` does,
  * and every candidate parsed by what `try_to_date` /
  * `try_to_timestamp(...).cast("date")` compile to — the session's
  * `TimestampFormatter` for the pattern, then `microsToDays` in the
  * session zone, null on a parse error. The Column cascade itself is kept
  * in test scope as the reference, and a property checks the two agree
  * row by row: change them together.
  *
  * DISPATCH GUARDS — each failed parse costs a thrown/caught exception
  * inside Spark's parser, so an ungated cascade pays ~14 exceptions per
  * exotic string. A cheap regex pre-test gates every branch on a
  * NECESSARY shape condition: only plausible formats are attempted, the
  * precedence order is untouched, and a guard that is merely loose costs
  * one extra attempt, never a wrong parse. Measured on the all-shapes
  * cascade bench q225 at sf0.1 (as Column guards): 4.26 s -> 3.17 s
  * (residual cost is the successful parse itself). */
case class LenientDate(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = DateType

  override def nullable: Boolean = true

  override def prettyName: String = "lenient_date"

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val parser = new LenientDateParser(zoneId)

  override def nullSafeEval(input: Any): Any = {
    val d = parser.parse(input.asInstanceOf[UTF8String])
    if (d == LenientDate.NoDate) null else d
  }

  // not defineCodeGen: a string that parses under no branch is SQL NULL,
  // so the generated code must null-check the RESULT
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lenientDate", parser,
      classOf[LenientDateParser].getName)
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |${ev.value} = $ref.parse($s);
         |${ev.isNull} = ${ev.value} == ${LenientDate.NoDate};
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LenientDate {

  /** `parse`'s "no date": below every day number a timestamp can reach. */
  val NoDate: Int = Int.MinValue

  /** European month names for the locale branch — an explicit literal
    * map, NOT JVM locale data: deterministic across JVMs and expressible
    * as the identical mapping in an oracle's SQL. The reference is an
    * *Italian* timesheet tool (dateutil itself needs a locale parserinfo
    * for `5 marzo 2025` — timesheet_transform.py:49,121), so Italian full
    * + abbreviated names lead; French, German and Spanish full names ride
    * along with accent-stripped variants. */
  val monthsIt: Seq[String] = Seq("gennaio", "febbraio", "marzo", "aprile",
    "maggio", "giugno", "luglio", "agosto", "settembre", "ottobre",
    "novembre", "dicembre")
  val monthsItAbbr: Seq[String] = Seq("gen", "feb", "mar", "apr", "mag",
    "giu", "lug", "ago", "set", "ott", "nov", "dic")
  val monthsFr: Seq[String] = Seq("janvier", "février", "mars", "avril",
    "mai", "juin", "juillet", "août", "septembre", "octobre", "novembre",
    "décembre")
  val monthsDe: Seq[String] = Seq("januar", "februar", "märz", "april",
    "mai", "juni", "juli", "august", "september", "oktober", "november",
    "dezember")
  val monthsEs: Seq[String] = Seq("enero", "febrero", "marzo", "abril",
    "mayo", "junio", "julio", "agosto", "septiembre", "octubre",
    "noviembre", "diciembre")

  /** lowercase word → month number; duplicates across languages agree on
    * the month by construction, so Map dedup is safe. */
  val localeMonths: Map[String, Int] =
    (Seq(monthsIt, monthsItAbbr, monthsFr, monthsDe, monthsEs)
      .flatMap(_.zipWithIndex.map { case (w, i) => w -> (i + 1) }) ++
      Seq("fevrier" -> 2, "aout" -> 8, "decembre" -> 12, "marz" -> 3))
      .toMap

  /** One cascade branch: parse with `format` when `guard` is found. */
  private[expressions] final class Branch(val guard: Pattern, val format: String)

  private def branches(bs: (String, String)*): Array[Branch] =
    bs.map { case (re, fmt) => new Branch(Pattern.compile(re), fmt) }.toArray

  private[expressions] val HasAlpha = Pattern.compile("[A-Za-z]")
  // "7th" -> "7" ahead of the month-name branches only: digits glued to
  // st/nd/rd/th are day ordinals there; the numeric branches never see
  // the rewrite, so "1st-2nd-3rd" garbage can't leak into them
  private[expressions] val Ordinal =
    Pattern.compile("(?i)\\b(\\d{1,2})(st|nd|rd|th)\\b")
  private[expressions] val IsoPrefix = Pattern.compile("^\\s*\\d{4}-")
  private[expressions] val TSeparator = Pattern.compile("T")
  // locale rewrites: the Spanish "de" connective ("5 de marzo de 2025")
  // and the German day dot ("5. März 2025"); \p{L} (not [A-Za-z]) so
  // accented month letters match the shape
  private[expressions] val SpanishDe =
    Pattern.compile("(?i)(\\d{1,2})\\s+de\\s+(\\p{L}+)\\s+de\\s+(\\d{4})")
  private[expressions] val GermanDayDot =
    Pattern.compile("(?i)\\b(\\d{1,2})\\.\\s*(?=\\p{L})")
  private[expressions] val LocaleShape =
    Pattern.compile("^\\s*\\d{1,2}[ -](\\p{L}+)[ -]\\d{4}\\s*$")
  private[expressions] val LocaleDay = Pattern.compile("^\\s*(\\d{1,2})")
  private[expressions] val LocaleYear = Pattern.compile("(\\d{4})\\s*$")
  private[expressions] val LocaleFormat = "d/M/yyyy"

  /** Branches 1-8: numeric shapes, on the raw string. Datetime STRINGS
    * truncate to date — the reference's target-cell coercion
    * (timesheet_transform.py:121-125: pd.to_datetime accepts
    * "5/3/2025 14:30" and .date() drops the time). Guards are anchored,
    * so date-only shapes never reach the datetime branches. */
  private[expressions] val Numeric = branches(
    "^\\s*\\d{1,2}/\\d{1,2}/\\d{4}\\s*$" -> "d/M/yyyy",
    "^\\s*\\d{1,2}-\\d{1,2}-\\d{4}\\s*$" -> "d-M-yyyy",
    "^\\s*\\d{4}-\\d{1,2}-\\d{1,2}\\s*$" -> "yyyy-M-d",
    "^\\s*\\d{1,2}\\.\\d{1,2}\\.\\d{4}\\s*$" -> "d.M.yyyy",
    "^\\s*\\d{4}/\\d{1,2}/\\d{1,2}\\s*$" -> "yyyy/M/d",
    "^\\s*\\d{8}\\s*$" -> "yyyyMMdd",
    "^\\s*\\d{1,2}/\\d{1,2}/\\d{4} \\d{1,2}:\\d{2}\\s*$" -> "d/M/yyyy H:mm",
    "^\\s*\\d{1,2}/\\d{1,2}/\\d{4} \\d{1,2}:\\d{2}:\\d{2}\\s*$" ->
      "d/M/yyyy H:mm:ss")
  /** Branches 9-10: ISO datetime, which may carry a "T" separator (a
    * letter, so it bypasses the numeric gate); its own leading `yyyy-`
    * pre-test is the dispatch, and every "T" becomes a space first. */
  private[expressions] val IsoDateTime = branches(
    "^\\s*\\d{4}-\\d{1,2}-\\d{1,2} \\d{1,2}:\\d{2}:\\d{2}\\s*$" ->
      "yyyy-M-d H:mm:ss",
    "^\\s*\\d{4}-\\d{1,2}-\\d{1,2} \\d{1,2}:\\d{2}\\s*$" -> "yyyy-M-d H:mm")
  /** Branches 11-13: English month names, on the raw string. */
  private[expressions] val MonthName = branches(
    "^\\s*\\d{1,2} [A-Za-z]+ \\d{4}\\s*$" -> "d MMM yyyy",
    "^\\s*\\d{1,2}-[A-Za-z]+-\\d{4}\\s*$" -> "d-MMM-yyyy",
    "^\\s*[A-Za-z]+ \\d{1,2}, \\d{4}\\s*$" -> "MMMM d, yyyy")
  /** Branches 14-17: English month names, ordinal suffixes stripped. */
  private[expressions] val MonthNameNoOrdinal = branches(
    "^\\s*\\d{1,2} [A-Za-z]+ \\d{4}\\s*$" -> "d MMMM yyyy",
    "^\\s*\\d{1,2} [A-Za-z]+ \\d{4}\\s*$" -> "d MMM yyyy",
    "^\\s*[A-Za-z]+ \\d{1,2}, \\d{4}\\s*$" -> "MMMM d, yyyy",
    "^\\s*[A-Za-z]+ \\d{1,2} \\d{4}\\s*$" -> "MMMM d yyyy")
  /** Branches 18-19: two-digit years, day-first, then pivoted. */
  private[expressions] val TwoDigitYear = branches(
    "^\\s*\\d{1,2}/\\d{1,2}/\\d{2}\\s*$" -> "d/M/yy",
    "^\\s*\\d{1,2}-\\d{1,2}-\\d{2}\\s*$" -> "d-M-yy")

  private[expressions] val Formats: Seq[String] =
    (Seq(Numeric, IsoDateTime, MonthName, MonthNameNoOrdinal, TwoDigitYear)
      .flatMap(_.map(_.format)) :+ LocaleFormat).distinct
}

/** [[LenientDate]]'s cascade for one session zone, shared by interpreted
  * eval and generated code. `parse` returns the day number, or
  * [[LenientDate.NoDate]]. Formatters and the case-mapping switch are
  * built where the parser runs, from that side's SQL conf, as
  * `GetTimestamp` and `Lower` build theirs. */
final class LenientDateParser(zoneId: ZoneId) extends Serializable {
  import LenientDate._

  /** One formatter per pattern, exactly what `try_to_date(s, fmt)` uses. */
  @transient private lazy val formatters: Map[String, TimestampFormatter] =
    Formats.map(f => f -> TimestampFormatter(f, zoneId,
      LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = true)).toMap

  @transient private lazy val icuLower: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  def parse(u: UTF8String): Int = {
    val c = u.toString
    val alpha = HasAlpha.matcher(c).find()
    lazy val noOrd = Ordinal.matcher(c).replaceAll("$1")
    var d = NoDate
    if (!alpha) d = first(c, Numeric)
    if (d == NoDate && IsoPrefix.matcher(c).find())
      d = first(TSeparator.matcher(c).replaceAll(" "), IsoDateTime)
    if (d == NoDate && alpha) d = first(c, MonthName)
    if (d == NoDate && alpha) d = first(noOrd, MonthNameNoOrdinal)
    if (d == NoDate && !alpha) d = pivot(first(c, TwoDigitYear))
    if (d == NoDate && alpha) d = locale(noOrd)
    d
  }

  private def first(s: String, bs: Array[Branch]): Int = {
    var d = NoDate
    var i = 0
    while (d == NoDate && i < bs.length) {
      if (bs(i).guard.matcher(s).find()) d = toDays(s, bs(i).format)
      i += 1
    }
    d
  }

  /** `Cast(GetTimestamp(s, fmt), DateType)` with null-on-parse-error:
    * the catch is `GetTimestamp`'s own, for `failOnError = false`. */
  private def toDays(s: String, format: String): Int =
    try DateTimeUtils.microsToDays(formatters(format).parse(s), zoneId)
    catch { case _: DateTimeException | _: ParseException => NoDate }

  /** dateutil-style two-digit-year completion, fixed POSIX pivot. */
  private def pivot(d: Int): Int =
    if (d == NoDate) d
    else {
      val ld = LocalDate.ofEpochDay(d)
      if (ld.getYear < 2050) d
      else DateTimeUtils.localDateToDays(
        LocalDate.of(ld.getYear - 100, ld.getMonthValue, ld.getDayOfMonth))
    }

  /** Branch 20: normalize the locale shape, look the lower-cased month
    * word up in [[LenientDate.localeMonths]], re-parse as `d/M/yyyy`. An
    * unknown word leaves `concat_ws`'s month-less "d/yyyy", which
    * `d/M/yyyy` never accepts — null, never an error. */
  private def locale(noOrd: String): Int = {
    val loc = GermanDayDot.matcher(
      SpanishDe.matcher(noOrd).replaceAll("$1 $2 $3")).replaceAll("$1 ")
    val shape = LocaleShape.matcher(loc)
    if (!shape.find()) return NoDate
    val word = CollationSupport.Lower.exec(UTF8String.fromString(shape.group(1)),
      CollationFactory.UTF8_BINARY_COLLATION_ID, icuLower).toString
    val day = extract(LocaleDay, loc)
    val year = extract(LocaleYear, loc)
    val rebuilt = localeMonths.get(word) match {
      case Some(m) => s"$day/$m/$year"
      case None => s"$day/$year"
    }
    toDays(rebuilt, LocaleFormat)
  }

  /** `regexp_extract(s, re, 1)`: "" when nothing matches. */
  private def extract(re: Pattern, s: String): String = {
    val m = re.matcher(s)
    if (m.find() && m.group(1) != null) m.group(1) else ""
  }
}
