package graft

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Verify's oracle_sql.json writer: scripts/check.py reads the file
  * with `json.load`, so every oracle string must parse back unchanged.
  */
class VerifySpec extends AnyFunSuite {

  test("oracle SQL with quotes, backslash and control chars round-trips") {
    val sql = "SELECT \"a\\b\" AS c,\t'x'\r\n|| '\u0001' FROM t"
    val text = Verify.oracleJson(Seq("q_odd" -> sql, "q_plain" -> "SELECT 1"))
    assert(!text.exists(_ < ' '), s"raw control char in $text")
    assert(JsonMethods.parse(text) ==
      JObject("q_odd" -> JString(sql), "q_plain" -> JString("SELECT 1")))
  }
}
