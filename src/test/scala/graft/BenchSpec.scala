package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private val results = Seq("q_a" -> 1.5, "q_stream" -> 0.25, "q_stream__engine" -> 0.5,
    "q_b" -> 2.0, "q_c" -> 12.0)
  private val sf = "/data/sf0.1"

  test("the full result line is byte-identical to the record it always printed") {
    // the line as built before the compact line was added
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.collect { case (k, v) if !k.endsWith("__engine") => v }.sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sf"}"""
    assert(Bench.resultLines(results, sf).head == json)
    assert(json == """{"metric":"total","value":15.75,"unit":"sec","queries":""" +
      """{"q_a":1.5,"q_stream":0.25,"q_stream__engine":0.5,"q_b":2.0,"q_c":12.0},"sf":"/data/sf0.1"}""")
  }

  test("the compact line follows it: same total, n = timed queries, no __engine entries") {
    val lines = Bench.resultLines(results, sf)
    assert(lines.size == 2)
    assert(lines(1) == """{"metric":"total","value":15.75,"unit":"sec","n":4,"sf":"/data/sf0.1"}""")
    assert(Bench.resultLines(Seq.empty, sf)(1) ==
      """{"metric":"total","value":0.0,"unit":"sec","n":0,"sf":"/data/sf0.1"}""")
  }
}
