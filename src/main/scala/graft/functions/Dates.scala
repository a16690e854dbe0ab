package graft.functions

import graft.functions.expr.{DateShape, DateShapeGuard, MonthTable, ReplaceMonths}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Date extraction (F3) and Excel serial dates (F14) as Catalyst
  * expression chains — the Spark-native analog of the reference's
  * `extract_date` pipeline (zavod/zavod/helpers/dates.py:41-229, spec
  * zavod/zavod/meta/dates.py:12-41):
  *
  *  1. month-name replacement from a per-dataset mapping (case-
  *     insensitive, word-bounded) — `replace_months`, one regex scan;
  *  2. a `try_to_date` coalesce chain over the dataset's format list
  *     plus the always-accepted ISO prefix forms `%Y-%m-%d|%Y-%m|%Y`,
  *     each format behind its shape guard;
  *  3. two-digit years re-based into [base, base+100) (dates.py:26-27);
  *  4. optional year-only extraction (all standalone 1800–2100 numbers);
  *  5. fallback to the original text.
  *
  * Output values are ISO *prefix strings* at the precision the matching
  * format carries ("1990", "1990-05", "1990-05-01") — Spark's DateType
  * cannot hold partial dates, so dates stay strings engine-wide (the
  * same decision the reference makes with prefixdate).
  *
  * Kernel preconditions and guard ([[graft.functions.expr]]):
  *  - month forms are runs of word characters and no normalized value
  *    contains a form ([[graft.functions.expr.MonthTable]] checks this
  *    when the column is built); normalized values are inserted
  *    literally;
  *  - a format whose pattern uses only `d`, `dd`, `M`, `MM`, `yy`,
  *    `yyyy`–`yyyyyy` and literal ASCII punctuation or spaces, with a
  *    literal between any two fields, is parsed only when the string has
  *    that pattern's shape ([[graft.functions.expr.DateShape]]); any
  *    other pattern goes to `try_to_date` unguarded;
  *  - a `yyyy`+ year outside [-290307, 294246] fails its guard, so a
  *    value such as "+300000" falls through to the next format or the
  *    fallback where `try_to_date` used to throw a long overflow and
  *    abort the query.
  */
object Dates {

  /** One parse format: the Spark datetime pattern and the ISO output
    * pattern carrying its precision. */
  final case class DateFmt(pattern: String, out: String = "yyyy-MM-dd")

  /** The always-accepted ISO prefix formats (dates.py:22). */
  val AlwaysFormats: Seq[DateFmt] = Seq(
    DateFmt("yyyy-MM-dd", "yyyy-MM-dd"),
    DateFmt("yyyy-MM", "yyyy-MM"),
    DateFmt("yyyy", "yyyy"))

  /** Replace month-name forms with their normalized value; mappings are
    * (form → normalized), matched case-insensitively at word boundaries
    * (meta/dates.py:35-41). Longer forms first so "March" wins over
    * "Mar". One scan of one alternation ([[MonthTable]]). */
  def replaceMonths(text: Column, mappings: Seq[(String, String)]): Column =
    if (mappings.isEmpty) text
    else ColumnBridge.column(ReplaceMonths(ColumnBridge.expression(text), MonthTable(mappings)))

  /** `try_to_date(s, pattern)`, skipped (null) when `s` fails the
    * pattern's shape guard; unguarded for patterns the guard does not
    * model. */
  private def tryToDate(s: Column, pattern: String): Column =
    DateShape.of(pattern) match {
      case Some(shape) =>
        when(ColumnBridge.column(DateShapeGuard(ColumnBridge.expression(s), shape)),
          try_to_date(s, pattern))
      case None => try_to_date(s, pattern)
    }

  /** Re-base a parsed date whose two-digit year landed in an arbitrary
    * century into [base, base+100) (dates.py:84-87). */
  def rebaseTwoDigitYear(d: Column, base: Int): Column = {
    val y = lit(base) + ((year(d) - base) % 100 + 100) % 100
    make_date(y, month(d), dayofmonth(d))
  }

  /** Standalone 1800–2100 numbers in the text, sorted — `extract_years`
    * (dates.py:41-62). Returns an array<string>. */
  def extractYears(text: Column): Column =
    array_sort(array_distinct(filter(
      regexp_extract_all(text, lit("\\b(\\d+)\\b"), lit(1)),
      y => y.try_cast("int").between(1800, 2100))))

  /** Full extract_date: month replacement → format chain → optional
    * year extraction → original-text fallback. Returns one string (the
    * reference returns a list; multiple values only arise from
    * year-extraction, where we join ascending with ';'). */
  def extractDate(
      text: Column,
      formats: Seq[DateFmt],
      months: Seq[(String, String)] = Nil,
      twoDigitYearBase: Option[Int] = None,
      yearOnly: Boolean = false): Column = {
    val replaced = trim(replaceMonths(text, months))
    val parsedChain = (formats ++ AlwaysFormats).map { f =>
      val parsed0 = tryToDate(replaced, f.pattern)
      val parsed = twoDigitYearBase match {
        // only rebase formats that actually carry a two-digit year
        case Some(base) if f.pattern.contains("yy") && !f.pattern.contains("yyyy") =>
          rebaseTwoDigitYear(parsed0, base)
        case _ => parsed0
      }
      date_format(parsed, f.out)
    }
    val fromFormats = coalesce(parsedChain: _*)
    // ';'-joined years, null when there are none; extractYears once
    val years = if (yearOnly)
      aggregate(extractYears(text), lit(null).cast("string"),
        (acc, y) => coalesce(concat(acc, lit(";"), y), y))
    else lit(null)
    coalesce(fromFormats, years, trim(text))
  }

  /** F14: Excel serial date → naive ISO timestamp string. Serial 1 =
    * 1900-01-01; the -2 absorbs Excel's phantom 1900-02-29
    * (helpers/excel.py:47-70). Out-of-range serials (<4000 or >100000)
    * are rejected as not-dates. */
  def excelSerialDate(serial: Column): Column = {
    val n = serial.cast("long")
    when(n.isNotNull && n >= 4000 && n <= 100000,
      concat(date_format(date_add(to_date(lit("1900-01-01")), (n - 2).cast("int")), "yyyy-MM-dd"),
        lit("T00:00:00")))
  }

  /** Partial-ISO backdate: subtract `days` from a date, return the
    * 10-char prefix (helpers/dates.py:205-208). */
  def backdate(d: Column, days: Int): Column =
    date_format(date_sub(d.cast("date"), days), "yyyy-MM-dd")

  /** A date (full or prefix) is within `maxAgeDays` of `asOf`
    * (helpers/dates.py:211-229): compare on the inclusive upper bound of
    * the prefix range. */
  def withinMaxAge(d: Column, asOf: Column, maxAgeDays: Int): Column =
    to_date(graft.operators.Consolidate.partialDateUpper(d)) >=
      date_sub(asOf.cast("date"), maxAgeDays)
}
