package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's timing helper and its capped `errors` field: a query that
  * throws is reported by name, never timed. */
class BenchSpec extends AnyFunSuite {
  test("a pass that throws yields no time, and no pass runs after it") {
    var runs = 0
    val t = Bench.timeMin(3) { runs += 1; throw new RuntimeException("boom") }
    assert(t.isFailure && t.failed.get.getMessage == "boom")
    assert(runs == 1)
    val ok = Bench.timeMin(3)(runs += 1)
    assert(ok.isSuccess && ok.get >= 0.0 && runs == 4)
  }

  test("the errors field lists every name that fits and always the count") {
    assert(Bench.errorsJson(Nil, 100) == "\"errors\":[],\"n_errors\":0")
    assert(Bench.errorsJson(Seq("a_q", "b_q"), 100) ==
      "\"errors\":[\"a_q\",\"b_q\"],\"n_errors\":2")
    val many = (1 to 200).map(i => f"j_some_long_query_name_$i%03d")
    val capped = Bench.errorsJson(many, 300)
    assert(capped.length <= 300 && capped.endsWith(",\"n_errors\":200"))
    assert(capped.contains("\"j_some_long_query_name_001\""))
  }
}
