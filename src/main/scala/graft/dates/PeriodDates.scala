package graft.dates

import java.time.LocalDate
import java.time.format.DateTimeFormatter

/**
 * Header-date grammar of the reference engine.
 *
 * The reference parses wide-matrix column headers of the form `X%Y.%m.%d`
 * (period "day") or `X%Y.%m` (period "month") and serializes dates to ISO
 * value strings `%Y-%m-%d` / `%Y-%m` (reference:
 * `src/modules/date_parser.py:5-15,24-33,41-48`). Unknown periods raise —
 * strict validation is part of the semantics (`date_parser.py:14-15,30-31`).
 *
 * Headers are *schema*, not data: this runs driver-side over at most
 * thousands of column names, so plain Scala (no Catalyst expression) is the
 * right altitude — see SURVEY.md §2.9/§4.
 */
object PeriodDates {

  final val Day = "day"
  final val Month = "month"

  /** `^X[0-9]{4}\.[0-9]{2}\.[0-9]{2}$` (day) — `date_parser.py:41-44`. */
  private val dayHeader = "^X([0-9]{4})\\.([0-9]{2})\\.([0-9]{2})$".r
  /** `^X[0-9]{4}\.[0-9]{2}$` (month) — `date_parser.py:45-48`. */
  private val monthHeader = "^X([0-9]{4})\\.([0-9]{2})$".r

  private val isoDay = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private val isoMonth = DateTimeFormatter.ofPattern("yyyy-MM")

  /** Strict period validation (`date_parser.py:14-15`). */
  def validatePeriod(period: String): Unit = period match {
    case Day | Month => ()
    case other =>
      throw new IllegalArgumentException(s"Unknown period: $other (expected day|month)")
  }

  /**
   * Parse a header (`X2022.03.01` / `X2021.11`) to a date (F1). Month-period
   * dates pin day-of-month to 1. Returns None when the header does not match
   * the grammar; throws on a matching-but-invalid calendar date (strictness
   * of `strptime`, `date_parser.py:7-13`).
   */
  def headerToDate(header: String, period: String): Option[LocalDate] = {
    validatePeriod(period)
    period match {
      case Day =>
        dayHeader.findFirstMatchIn(header).map { m =>
          LocalDate.of(m.group(1).toInt, m.group(2).toInt, m.group(3).toInt)
        }
      case Month =>
        monthHeader.findFirstMatchIn(header).map { m =>
          LocalDate.of(m.group(1).toInt, m.group(2).toInt, 1)
        }
    }
  }

  /** Date → ISO value string, period-granular (F2; `date_parser.py:10,13`). */
  def dateToValue(d: LocalDate, period: String): String = {
    validatePeriod(period)
    period match {
      case Day   => d.format(isoDay)
      case Month => d.format(isoMonth)
    }
  }

  /** ISO value string → date (F3; `date_parser.py:24-33`). Strict. */
  def isoToDate(s: String, period: String): LocalDate = {
    validatePeriod(period)
    period match {
      case Day   => LocalDate.parse(s, isoDay)
      case Month => java.time.YearMonth.parse(s, isoMonth).atDay(1)
    }
  }

  /**
   * Inclusive date-range predicate with optional bounds (P4;
   * `driver.py:54`, `tapis_direct_driver.py:126`). The reference's
   * `range_start` exact-match quirk (`tapis_direct_driver.py:128-129`) is a
   * documented divergence: bounds here are uniformly inclusive (SURVEY §7.4).
   */
  def inRange(d: LocalDate, start: Option[LocalDate], end: Option[LocalDate]): Boolean =
    start.forall(s => !d.isBefore(s)) && end.forall(e => !d.isAfter(e))

  /** `end >= start` validation (`driver.py:133-134`). */
  def validateRange(start: Option[LocalDate], end: Option[LocalDate]): Unit =
    for (s <- start; e <- end)
      if (e.isBefore(s))
        throw new IllegalArgumentException(s"end_date $e precedes start_date $s")
}
