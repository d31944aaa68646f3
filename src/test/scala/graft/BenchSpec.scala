package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a failed query is null in the map, left out of the total, and counted") {
    val (full, compact) =
      Bench.totals(Seq("a" -> Some(1.5), "b" -> None, "c" -> Some(0.25)), "sf")
    assert(full == """{"metric":"total","value":1.750,"unit":"sec","failed":1,""" +
      """"queries":{"a":1.500,"b":null,"c":0.250},"sf":"sf"}""")
    assert(compact ==
      """{"metric":"total","value":1.750,"unit":"sec","failed":1,"sf":"sf","detail":"BENCH.json"}""")
  }

  test("a clean run reports failed 0") {
    val (full, compact) = Bench.totals(Seq("a" -> Some(2.0)), "sf")
    assert(full.contains(""""failed":0,""") && compact.contains(""""failed":0,"""))
  }
}
