package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DoubleType

import graft.expressions.LenientDate

/** Scalar cleansing / parsing layer (SURVEY.md §2.2, operators P1-P11).
  *
  * `Column => Column` functions: they stay inside whole-stage codegen,
  * push down through Catalyst, and are independently unit-testable. Most
  * are compositions of Spark builtins; the lenient date parse is one
  * native expression ([[graft.expressions.LenientDate]]), because as a
  * builtin composition it outgrew the codegen method limit. Null/parse
  * tolerance uses `try_*` semantics (null-on-failure) rather than
  * exceptions, matching the reference's row-skip / default-on-error
  * behavior (reference: timesheet_transform.py:44-82).
  */
object Cleansing {

  /** P1: keep rows whose week-range string contains the " al " separator
    * (reference: timesheet_transform.py:44-46). */
  def hasWeekRange(c: Column): Column = c.isNotNull && c.contains(" al ")

  /** Lenient day-first date parse — the pandas `to_datetime(dayfirst=True)`
    * tolerance the reference relies on (timesheet_transform.py:49,121):
    * the 20-branch cascade of [[graft.expressions.LenientDate]], whose
    * scaladoc lists the shapes, the two-digit-year pivot and the branch
    * order. Null on total failure — the callers' row-skip contract. */
  def parseDateLenient(c: Column): Column =
    Bridge.column(LenientDate(Bridge.expression(c)))

  /** [[parseDateLenient]] extended with dateutil's YEARLESS free-form
    * shapes — "Wed, March 5", "March 5th", "5 March", "5/3". dateutil
    * fills the RUN-DATE year, which is non-deterministic at engine
    * scale; here the fill year is an explicit parameter (the caller's
    * ingest/reference date), keeping the cascade pure. A leading
    * weekday name is stripped, not validated — dateutil's own behavior
    * (the weekday token is parsed and discarded, never checked against
    * the resolved date). Yearful strings never reach the yearless
    * branches: the full cascade runs first. */
  def parseDateLenientYearless(c: Column, defaultYear: Int): Column = {
    require(defaultYear >= 1 && defaultYear <= 9999, "defaultYear invalid")
    val noDow = regexp_replace(c,
      "(?i)^\\s*(mon|tue|wed|thu|fri|sat|sun)[a-z]*,?\\s+", "")
    val noOrd = trim(regexp_replace(noDow,
      "(?i)\\b(\\d{1,2})(st|nd|rd|th)\\b", "$1"))
    val y = lit(" " + defaultYear.toString)
    def g(re: String, fmt: String): Column =
      when(noOrd.rlike(re), try_to_date(concat(noOrd, y), fmt))
    coalesce(
      parseDateLenient(c),
      g("^[A-Za-z]+ \\d{1,2}$", "MMMM d yyyy"),
      g("^[A-Za-z]+ \\d{1,2}$", "MMM d yyyy"),
      g("^\\d{1,2} [A-Za-z]+$", "d MMMM yyyy"),
      g("^\\d{1,2} [A-Za-z]+$", "d MMM yyyy"),
      g("^\\d{1,2}/\\d{1,2}$", "d/M yyyy"))
  }

  /** Unicode confusable (homoglyph) folding — the adversarial-dedup
    * counter: spam/SEO corpora evade exact dedup by swapping Latin
    * letters for visually-identical Cyrillic/Greek codepoints; folding
    * maps the common confusables back to ASCII so the content key sees
    * through the disguise. A deliberately SMALL literal table (the
    * high-frequency Cyrillic + Greek lookalikes), not a full UTS#39
    * database — deterministic, engine-portable (`translate` exists
    * everywhere with identical 1:1 semantics), and auditable at a
    * glance. Apply BEFORE tokenization in dedup keys; composes with
    * [[graft.expressions.NfcNormalize]], which handles combining marks,
    * not lookalikes. */
  val confusableFrom: String =
    "аеорсхуіѕк" + // а е о р с х у і ѕ к
      "АВЕКМНОРСТХ" + // АВЕКМНОРСТХ
      "οαεικρυ" + // greek ο α ε ι κ ρ υ
      "ΑΒΕΗΙΚΜΝΟΡΤΧ" // greek caps
  val confusableTo: String =
    "aeopcxyisk" + "ABEKMHOPCTX" + "oaeikpu" + "ABEHIKMNOPTX"

  /** Fold [[confusableFrom]] → [[confusableTo]] (codegen'd translate). */
  def confusableFold(c: Column): Column =
    translate(c, confusableFrom, confusableTo)

  /** Mojibake repair map — the high-frequency UTF-8-read-as-Latin-1/
    * cp1252 double-encoding signatures (the ftfy fast path): each entry
    * is (what é/’/« look like after the corruption, the original). A
    * PINNED literal table like [[confusableFrom]] — deterministic,
    * auditable, and expressible as the identical replace chain in any
    * engine; a full ftfy does charset sniffing this table deliberately
    * trades away. Longer/rarer sequences never prefix-collide with the
    * 2-char `Ã?`/`Â?` family because lead bytes differ (â vs Ã vs Â). */
  val mojibakeMap: Seq[(String, String)] = Seq(
    "â€™" -> "’", // right single quote
    "â€œ" -> "“", // left double quote
    "â€“" -> "–", // en dash
    "Ã©" -> "é", "Ã¨" -> "è", "Ã¡" -> "á", "Ã³" -> "ó", "Ãº" -> "ú",
    "Ã±" -> "ñ", "Ã¤" -> "ä", "Ã¶" -> "ö", "Ã¼" -> "ü", "ÃŸ" -> "ß",
    "Ã§" -> "ç", "Ã " -> "à", // à's second byte IS non-breaking space
    "Â«" -> "«", "Â»" -> "»",
    "Â " -> " ") // stray Â before NBSP; NBSP itself is P5's job

  /** Regex matching the mojibake lead signatures — a cheap pre-filter /
    * severity score (count of suspect sites) before [[fixMojibake]]. */
  val mojibakeSignature: String = "â€|Ã|Â"

  /** Apply [[mojibakeMap]] as a sequential replace chain (each step is
    * codegen'd StringReplace; the chain is bounded by the table size,
    * per-row work only). */
  def fixMojibake(c: Column): Column =
    mojibakeMap.foldLeft(c) { case (acc, (bad, good)) =>
      replace(acc, lit(bad), lit(good))
    }

  /** P2: parse "DD/MM/YYYY al DD/MM/YYYY" → week-start date, day-first;
    * returns null on malformed input, which callers filter (≙ the
    * reference's row-skip, timesheet_transform.py:47-52). Separator
    * tolerance via [[parseDateLenient]]. */
  def weekStart(c: Column): Column =
    parseDateLenient(trim(split(c, " al ").getItem(0)))

  /** P4: surname = lower-cased last whitespace-separated token of the author
    * full name; blank/null → "unknown" (timesheet_transform.py:59-60). */
  def surname(c: Column): Column =
    when(c.isNull || trim(c) === "", lit("unknown"))
      .otherwise(lower(element_at(split(trim(c), "\\s+"), -1)))

  /** P4 (v1/v3 variant): surname with ORIGINAL case preserved and the
    * "UNKNOWN" sentinel (timesheet_transform_v1.py:64,
    * timesheet_transform_v3.py:66) — the final version lowercases. */
  def surnameV1(c: Column): Column =
    when(c.isNull || trim(c) === "", lit("UNKNOWN"))
      .otherwise(element_at(split(trim(c), "\\s+"), -1))

  /** P5: hours cleansing — strip non-breaking spaces + whitespace, tolerant
    * cast to double, failure → 0.0 (timesheet_transform.py:66-73). */
  def cleanHours(c: Column): Column =
    coalesce(
      trim(translate(c.cast("string"), "\u00A0", "")).try_cast(DoubleType),
      lit(0.0))

  /** P6: null-check on the RAW value, ≠0 on the CLEANED value — the exact
    * predicate shape of timesheet_transform.py:75. */
  def keepHours(raw: Column, cleaned: Column): Column =
    raw.isNotNull && cleaned =!= 0.0

  /** P9: date-granularity normalization; accepts string/timestamp/date
    * cells (timesheet_transform.py:118-125). The cast handles
    * date/timestamp/ISO-string cells; string cells fall through to the
    * full [[parseDateLenient]] cascade — the reference's free-form
    * target-cell coercion (pandas `to_datetime`) accepts all of these. */
  def asDate(c: Column): Column =
    coalesce(
      c.try_cast("date"),
      parseDateLenient(c.cast("string")))

  /** P11: partition/sheet-name truncation (timesheet_transform_v1.py:99). */
  def truncName(c: Column, n: Int = 31): Column = substring(c, 1, n)
}
