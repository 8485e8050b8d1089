package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.LenientDate

/** The reference for [[graft.expressions.LenientDate]]: the Column
  * cascade `Cleansing.parseDateLenient` was before the kernel, kept
  * verbatim (only the locale table is now the kernel's). Built from
  * Spark builtins alone — RLIKE guards, `regexp_replace`, `lower`, a map
  * lookup, `try_to_date` / `try_to_timestamp` — so the kernel is checked
  * against the engine's own semantics, row by row, by `LenientDateProps`.
  * Change the two together. */
object LenientDateCascade {

  private val localeMonthMap: Map[String, Int] = LenientDate.localeMonths

  def parseDateLenient(c: Column): Column = {
    // "7th" -> "7" ahead of the month-name branches only: digits glued
    // to st/nd/rd/th are day ordinals there; the numeric branches never
    // see the rewrite, so "1st-2nd-3rd" garbage can't leak into them
    val noOrd = regexp_replace(c, "(?i)\\b(\\d{1,2})(st|nd|rd|th)\\b", "$1")
    // dateutil-style two-digit-year completion, fixed POSIX pivot
    def pivot(d: Column): Column =
      when(year(d) >= 2050,
        make_date(year(d) - 100, month(d), dayofmonth(d))).otherwise(d)
    // DISPATCH GUARDS — each failed try_to_date costs a thrown/caught
    // exception inside Spark's parser, so a 15-branch cascade pays ~14
    // exceptions per exotic string. A cheap regexp pre-test (codegen'd,
    // no allocation) gates every branch on a NECESSARY shape condition:
    // only plausible formats are attempted, the precedence order is
    // untouched, and a guard that is merely loose costs one extra
    // attempt, never a wrong parse. Measured on the all-shapes cascade
    // bench q225 at sf0.1: 4.26 s -> 3.17 s (residual cost is the
    // successful parse itself); the flagship's clean shapes were
    // already fail-fast, q01 unchanged.
    val hasAlpha = c.rlike("[A-Za-z]")
    def guarded(src: Column, re: String, fmt: String): Column =
      when(src.rlike(re), try_to_date(src, fmt))
    def guardedTs(src: Column, re: String, fmt: String): Column =
      when(src.rlike(re), try_to_timestamp(src, lit(fmt)).cast("date"))
    val num = !hasAlpha
    // LOCALE month names (it full + abbrev, fr/de/es): normalize the
    // Spanish "de" connective ("5 de marzo de 2025") and the German day
    // dot ("5. März 2025"), extract the month word, map it through the
    // literal table, re-parse numerically. try_element_at nulls unknown
    // words under ANSI; concat_ws then yields a shape try_to_date
    // rejects — the cascade's null-on-failure contract throughout.
    // \p{L} (not [A-Za-z]): accented month letters must match the shape.
    val loc = regexp_replace(
      regexp_replace(noOrd,
        "(?i)(\\d{1,2})\\s+de\\s+(\\p{L}+)\\s+de\\s+(\\d{4})", "$1 $2 $3"),
      "(?i)\\b(\\d{1,2})\\.\\s*(?=\\p{L})", "$1 ")
    val locShaped = loc.rlike("^\\s*\\d{1,2}[ -]\\p{L}+[ -]\\d{4}\\s*$")
    val monthWord = lower(
      regexp_extract(loc, "^\\s*\\d{1,2}[ -](\\p{L}+)[ -]\\d{4}\\s*$", 1))
    val monthNum = try_element_at(typedlit(localeMonthMap), monthWord)
    val locRebuilt = concat_ws("/",
      regexp_extract(loc, "^\\s*(\\d{1,2})", 1),
      monthNum.cast("string"),
      regexp_extract(loc, "(\\d{4})\\s*$", 1))
    coalesce(
      when(num, guarded(c, "^\\s*\\d{1,2}/\\d{1,2}/\\d{4}\\s*$", "d/M/yyyy")),
      when(num, guarded(c, "^\\s*\\d{1,2}-\\d{1,2}-\\d{4}\\s*$", "d-M-yyyy")),
      when(num, guarded(c, "^\\s*\\d{4}-\\d{1,2}-\\d{1,2}\\s*$", "yyyy-M-d")),
      when(num, guarded(c, "^\\s*\\d{1,2}\\.\\d{1,2}\\.\\d{4}\\s*$", "d.M.yyyy")),
      when(num, guarded(c, "^\\s*\\d{4}/\\d{1,2}/\\d{1,2}\\s*$", "yyyy/M/d")),
      when(num, guarded(c, "^\\s*\\d{8}\\s*$", "yyyyMMdd")),
      // datetime STRINGS truncate to date — the reference's target-cell
      // coercion (timesheet_transform.py:121-125: pd.to_datetime accepts
      // "5/3/2025 14:30" and .date() drops the time). Guards are
      // anchored, so date-only shapes never reach these branches.
      when(num, guardedTs(c,
        "^\\s*\\d{1,2}/\\d{1,2}/\\d{4} \\d{1,2}:\\d{2}\\s*$",
        "d/M/yyyy H:mm")),
      when(num, guardedTs(c,
        "^\\s*\\d{1,2}/\\d{1,2}/\\d{4} \\d{1,2}:\\d{2}:\\d{2}\\s*$",
        "d/M/yyyy H:mm:ss")),
      // ISO datetime may carry a "T" separator (alpha, so it bypasses
      // the num gate); its own leading-yyyy- pre-test is the dispatch
      when(c.rlike("^\\s*\\d{4}-"), guardedTs(regexp_replace(c, "T", " "),
        "^\\s*\\d{4}-\\d{1,2}-\\d{1,2} \\d{1,2}:\\d{2}:\\d{2}\\s*$",
        "yyyy-M-d H:mm:ss")),
      when(c.rlike("^\\s*\\d{4}-"), guardedTs(regexp_replace(c, "T", " "),
        "^\\s*\\d{4}-\\d{1,2}-\\d{1,2} \\d{1,2}:\\d{2}\\s*$",
        "yyyy-M-d H:mm")),
      when(hasAlpha, guarded(c, "^\\s*\\d{1,2} [A-Za-z]+ \\d{4}\\s*$", "d MMM yyyy")),
      when(hasAlpha, guarded(c, "^\\s*\\d{1,2}-[A-Za-z]+-\\d{4}\\s*$", "d-MMM-yyyy")),
      when(hasAlpha, guarded(c, "^\\s*[A-Za-z]+ \\d{1,2}, \\d{4}\\s*$", "MMMM d, yyyy")),
      when(hasAlpha, guarded(noOrd, "^\\s*\\d{1,2} [A-Za-z]+ \\d{4}\\s*$", "d MMMM yyyy")),
      when(hasAlpha, guarded(noOrd, "^\\s*\\d{1,2} [A-Za-z]+ \\d{4}\\s*$", "d MMM yyyy")),
      when(hasAlpha, guarded(noOrd, "^\\s*[A-Za-z]+ \\d{1,2}, \\d{4}\\s*$", "MMMM d, yyyy")),
      when(hasAlpha, guarded(noOrd, "^\\s*[A-Za-z]+ \\d{1,2} \\d{4}\\s*$", "MMMM d yyyy")),
      when(num, pivot(guarded(c, "^\\s*\\d{1,2}/\\d{1,2}/\\d{2}\\s*$", "d/M/yy"))),
      when(num, pivot(guarded(c, "^\\s*\\d{1,2}-\\d{1,2}-\\d{2}\\s*$", "d-M-yy"))),
      when(hasAlpha && locShaped, try_to_date(locRebuilt, "d/M/yyyy")))
  }
}
