package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Verify's oracle_sql.json body, parsed back with a real JSON reader.
  * Pure JVM: `Verify.run` stops its session, which would take the
  * shared test session down with it. */
class VerifyOracleJsonSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def parse(json: String): Map[String, String] =
    mapper.readValue(json, classOf[java.util.Map[String, String]]).asScala.toMap

  test("named queries: exactly their oracle SQL comes out") {
    val only = Set("q01_pricing_summary", "q29_simhash_neardup")
    assert(parse(Verify.oracleJson(only)) == SparkEntry.oracleSql.filter(kv => only(kv._1)))
    assert(parse(Verify.oracleJson(Set.empty)) == SparkEntry.oracleSql)
  }

  test("quote, backslash, CR, tab and other control chars are escaped") {
    val raw = "a\"b\\c\nd\re\tf\u0001g\u001fh"
    val lit = Verify.jsonString(raw)
    assert(!lit.exists(_ < ' '), lit)
    assert(mapper.readValue(lit, classOf[String]) == raw)
  }
}
