package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s.jackson.JsonMethods

/** The driver parses the bench contract JSON from a ~2,000-char stdout
  * tail; rounds 1-4 lost their bench evidence to lines longer than that.
  * Pin the compact-line builder: always ≤ its budget, always valid JSON,
  * and an explicit `queries_omitted` marker whenever timings are cut.
  */
class BenchContractSpec extends AnyFunSuite {

  private val base =
    """"metric":"total","value":178.504,"unit":"sec","sf":"/root/testdata/sf0.1",""" +
      """"bench_frontier_urls":8000000,"budget_sec":420,""" +
      """"urls_per_sec_1_executor":1217974,"urls_per_sec_4_executors":2411456,""" +
      """"executor_scaling_efficiency":0.495,"scaling_efficiency":0.495,""" +
      """"best_pair_efficiency":0.512,""" +
      """"visit_pair_efficiencies":[0.495,0.512,0.433,0.488,0.502,0.471],""" +
      """"cluster_visits":6,"urls_per_sec_local8":996804,""" +
      """"urls_per_sec_local32":2374018,"thread_scaling_efficiency":0.595,""" +
      """"scaling_efficiency_source":"executor_1x8_to_4x8",""" +
      """"bench_elapsed_sec":405.021,"detail":"BENCH_LAST.json""""

  private def queries(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => (f"q$i%02d_some_operator_name_face", i * 1.234))

  test("56-query line with a full official-shaped base stays under the " +
      "driver's stdout tail and parses") {
    val line = Bench.compactLine(base, queries(56))
    assert(line.length <= 1800, s"line is ${line.length} chars")
    val parsed = JsonMethods.parse(line)
    assert((parsed \ "metric").values == "total")
    assert((parsed \ "queries").values.asInstanceOf[Map[String, _]].nonEmpty)
  }

  test("overflow is cut loudly: queries_omitted marks the dropped tail") {
    // 300 queries can never fit — the builder must keep the line budgeted
    // and say exactly how many timings were cut
    val line = Bench.compactLine(base, queries(300))
    assert(line.length <= 1800)
    val parsed = JsonMethods.parse(line)
    val kept = (parsed \ "queries").values.asInstanceOf[Map[String, _]].size
    val omitted = (parsed \ "queries_omitted").values.asInstanceOf[BigInt]
    assert(kept + omitted.toInt == 300)
    assert(omitted > 0)
  }

  test("pathologically long base still yields valid JSON (empty queries)") {
    val line = Bench.compactLine(base + ("," + base) * 3, queries(56))
    val parsed = JsonMethods.parse(line) // no timings fit; still parseable
    assert((parsed \ "queries").values.asInstanceOf[Map[String, _]].isEmpty)
    assert((parsed \ "queries_omitted").values.asInstanceOf[BigInt] == 56)
  }

  test("a query that throws is recorded as an error, not as a timing") {
    Bench.recordQuery("q_contract_ok_face")(())
    Bench.recordQuery("q_contract_boom_face")(
      throw new IllegalStateException("boom \"quoted\"\nsecond line"))
    val (times, errors) = Bench.querySnapshot()
    assert(times.map(_._1).contains("q_contract_ok_face"))
    assert(!times.map(_._1).contains("q_contract_boom_face"))
    val want = "java.lang.IllegalStateException: boom \"quoted\"\nsecond line"
    assert(errors.toMap.get("q_contract_boom_face").contains(want))
    // BENCH_LAST.json's query_errors object round-trips the message
    val parsed = JsonMethods.parse(Bench.errorsJson(errors))
    assert((parsed \ "q_contract_boom_face").values ==
      want.replace('\n', ' '))
  }
}
