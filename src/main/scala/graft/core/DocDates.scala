package graft.core

/** X1 — Russian document-date dialect (DocumentParser.java:29-36,718-732).
  * The call sites are commented out in the reference (findDocumentDate,
  * :328-366) but the dialect defines the date grammar the engine exposes:
  * day 1-31 (optional leading zero), month by number or genitive name,
  * year 1000-2999; month names resolved by short-prefix containment over
  * POI-style short months ("мая" matches "ма").
  */
object DocDates {

  private val dateRegex =
    ("(?i)(?<day>[1-2][0-9]|3[01]|0?[1-9]).\\s*(?<month>1[0-2]|0[1-9]|января|февраля|марта|" +
      "апреля|мая|июня|июля|августа|сентября|октября|ноября|декабря).\\s*(?<year>[1-2]\\d{3})").r

  private val shortMonths = Array("янв", "фев", "мар", "апр", "ма", "июн",
    "июл", "авг", "сен", "окт", "ноя", "дек")

  /** First date in the text, or None. Matches the reference's lowercase
    * matching (:335) and containment-based month resolution (:725-732).
    */
  def findDate(text: String): Option[java.time.LocalDate] =
    dateRegex.findFirstMatchIn(text.toLowerCase).map { m =>
      java.time.LocalDate.of(
        m.group("year").toInt,
        month(m.group("month")),
        m.group("day").toInt)
    }

  /** ~ getMonth (DocumentParser.java:725-732): first short-month whose
    * prefix the token CONTAINS wins ("мая".contains("ма")); numeric
    * fallback.
    */
  def month(monthString: String): Int = {
    var i = 0
    while (i < shortMonths.length) {
      if (monthString.contains(shortMonths(i))) return i + 1
      i += 1
    }
    monthString.toInt
  }
}
