package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.time.LocalDate

/** X1 — the reference's Russian date dialect (DocumentParser.java:29-36,
  * 718-732).
  */
class DocDatesSpec extends AnyFunSuite {

  test("named genitive months, prefix containment (мая -> ма)") {
    assert(DocDates.findDate("Договор от 15 мая 2021 года") ==
      Some(LocalDate.of(2021, 5, 15)))
    assert(DocDates.findDate("подписан 3 марта 1999") ==
      Some(LocalDate.of(1999, 3, 3)))
    assert(DocDates.findDate("31 декабря 2020") ==
      Some(LocalDate.of(2020, 12, 31)))
  }

  test("numeric months, case-insensitive, first match wins") {
    assert(DocDates.findDate("с 01.02.2023 по 05.06.2024") ==
      Some(LocalDate.of(2023, 2, 1)))
    assert(DocDates.findDate("ОТ 7 ИЮЛЯ 2022") ==
      Some(LocalDate.of(2022, 7, 7)))
    assert(DocDates.findDate("без даты") == None)
  }
}
