package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench line `tools/bench_diff.py` parses. */
class BenchSpec extends AnyFunSuite {
  private val results = Seq("q44_event_funnel" -> 0.814, "mm6_magic_sniff" -> 0.104, "d5_simhash" -> 1.004)

  test("bench line keeps full query names, 2-decimal figures and the rounded total") {
    // value is the unrounded sum rounded (1.922), not the sum of the printed figures (1.91)
    assert(Bench.line(results, "/data/sf0.1") ==
      """{"metric":"total","value":1.92,"unit":"sec","queries":{"q44_event_funnel":0.81,"mm6_magic_sniff":0.10,"d5_simhash":1.00},"sf":0.1}""")
  }

  test("bench line reads sf as the number in the data dir's name, 0 when there is none") {
    def sf(dir: String) = Bench.line(Seq.empty, dir).split("\"sf\":").last.stripSuffix("}")
    assert(sf("/data/sf0.1") == "0.1")
    assert(sf("/data/sf0.001") == "0.001")
    assert(sf("/data/sf10") == "10")
    assert(sf("/data/latest") == "0")
    assert(Bench.line(Seq.empty, "/data/sf10") ==
      """{"metric":"total","value":0.00,"unit":"sec","queries":{},"sf":10}""")
  }
}
