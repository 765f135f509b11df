package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench line's `env` object stays one parseable JSON line whatever
  * the session-conf overlay holds. */
class BenchSpec extends AnyFunSuite {
  test("a session_conf with control characters still yields one JSON line") {
    val conf = "spark.a=1\nspark.b=\"two\"\t;spark.c=C:\\dir\r"
    val env = Bench.contentionEnv(Some(conf))
    assert(!env.exists(_ < ' '), env)
    val json = new ObjectMapper().readTree(env)
    assert(json.get("session_conf").asText == "spark.a=1 spark.b=\"two\" ;spark.c=C:\\dir ")
    assert(json.has("load1") && json.has("cpu_probe_ms"))
    assert(!new ObjectMapper().readTree(Bench.contentionEnv(None)).has("session_conf"))
  }
}
