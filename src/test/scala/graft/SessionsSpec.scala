package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The session factory's settings, as the specs see them, and the JSON
  * string escaper the Verify and Bench artifacts share. */
class SessionsSpec extends SparkSpecBase {

  test("the spec session: 4 shuffle partitions, UTC, codegen cache 4096") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get(Sessions.CodegenCacheKey) === "4096")
    assert(spark.sparkContext.master === "local[4]")
  }

  test("jsonString escapes quote, backslash and control chars; Jackson reads back the original") {
    val s = "say \"hi\"\\path\nline\ttab\u0001end"
    val json = Verify.jsonString(s)
    assert(!json.exists(_ < ' '))
    assert(new ObjectMapper().readValue(json, classOf[String]) === s)
  }
}
