package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  private implicit val formats: Formats = DefaultFormats

  test("oracle_sql.json parses back to exactly SparkEntry.oracleSql") {
    assert(parse(Verify.oracleJson(SparkEntry.oracleSql)).extract[Map[String, String]] ==
      SparkEntry.oracleSql)
  }

  test("oracle JSON escapes a tab, CR, quote, backslash and control char, and round-trips") {
    val sql = Map("q\t\"1\"" -> "select '\t', '\r', '\"', '\\', '\u0001'\nfrom t")
    val js = Verify.oracleJson(sql)
    assert(!js.exists(_ < ' '), s"raw control character in $js")
    assert(parse(js).extract[Map[String, String]] == sql)
  }
}
