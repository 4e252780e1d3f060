package graft

import org.scalatest.funsuite.AnyFunSuite

/** The self-exonerating outlier probe's pure pieces: parsing the
  * prior committed capture and the >1.3× flag rule. */
class BenchProbeSpec extends AnyFunSuite {

  private val sample =
    """{"metric":"total","value":220.082,"median":220.082,"runs":3,""" +
    """"load_avg":4.05,"load_avg_start":0.45,"contended":false,""" +
    """"anchor_sec":1.701,"anchor_mt_sec":2.088,"graph_prep_sec":0.960,""" +
    """"cpus":"32","unit":"sec","queries":{"q1_agg":0.252,""" +
    """"q2_rollup":1.030,"q3_topk":-1.000},"probes":{"q2_rollup":0.400},""" +
    """"sf":"/root/testdata/sf0.1"}"""

  test("parsePriorQueries reads the queries block, not probes or scalars") {
    val m = Bench.parsePriorQueries(sample)
    assert(m == Map("q1_agg" -> 0.252, "q2_rollup" -> 1.030, "q3_topk" -> -1.0))
  }

  test("parsePriorQueries is empty on garbage or missing block") {
    assert(Bench.parsePriorQueries("not json").isEmpty)
    assert(Bench.parsePriorQueries("""{"value":1.0}""").isEmpty)
  }

  test("flagOutliers: >1.3x movers only, worst first, crashes never flag") {
    val prior = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0, "e" -> -1.0)
    val results = Seq(
      "a" -> 1.29,  // under threshold
      "b" -> 2.0,   // 2.0x
      "c" -> 4.0,   // 4.0x — worst
      "d" -> -1.0,  // crashed this round: poisoned, never probed
      "e" -> 5.0,   // prior crashed: no valid baseline
      "f" -> 9.0)   // absent from prior
    assert(Bench.flagOutliers(results, prior).map(_._1) == Seq("c", "b"))
  }

  test("flagOutliers caps at the worst `cap` movers") {
    val prior = (1 to 30).map(i => s"q$i" -> 1.0).toMap
    val results = (1 to 30).map(i => s"q$i" -> (1.0 + i * 0.1))
    val flagged = Bench.flagOutliers(results, prior, cap = 16)
    assert(flagged.size == 16)
    assert(flagged.head._1 == "q30") // worst mover leads
  }

  test("errors block: escaped reasons parse as JSON; queries block unchanged") {
    val msg = "bad \"col\"\tat \"queries\":{\"q9\":9.0}\nsecond line"
    val reason = Verify.failureReason(new IllegalStateException(msg))
    assert(reason ==
      "java.lang.IllegalStateException: bad \"col\"\tat \"queries\":{\"q9\":9.0}")
    val line = sample.replace(""","sf":""",
      ""","errors":""" + Verify.jsonObject(Seq("q3_topk" -> reason)) + ""","sf":""")
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(tree.get("errors").get("q3_topk").asText == reason)
    assert(tree.get("queries").size == 3)
    assert(Bench.parsePriorQueries(line) ==
      Map("q1_agg" -> 0.252, "q2_rollup" -> 1.030, "q3_topk" -> -1.0))
    // the escaper itself round-trips every control char
    val raw = "a\nb\r\"c\"\\d\te\u0001"
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Verify.jsonString(raw)).asText == raw)
    assert(Verify.jsonObject(Nil) == "{}")
  }
}
