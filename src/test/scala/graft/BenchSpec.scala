package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench artifact integrity: the BASELINE-comparable `core_survey2_sec`
  * must never wear a deflated number. A failing query still has a
  * (near-zero) elapsed duration in the results list, so summing it would
  * make a red run look FASTER than a green one — the metric goes null
  * instead, and the failure is reported via the artifact's `errors`
  * field. Pure-JVM suite; no SparkSession needed.
  */
class BenchSpec extends AnyFunSuite {

  /** All core queries present with duration 1.0 each, plus one extension
    * query that must not count toward the core metric. */
  private def fullResults: Seq[(String, Double)] =
    (Bench.CoreSurvey2.toSeq.sorted.map(_ -> 1.0)) :+ ("x_tokens" -> 99.0)

  test("green run: core_survey2_sec is the sum over exactly the core set") {
    val json = Bench.coreSurvey2Json(fullResults, erroredQueries = Set.empty)
    assert(json.toDouble === Bench.CoreSurvey2.size.toDouble)
  }

  test("a FAILED core query nulls the core metric instead of deflating it") {
    // w5_macd 'ran' in 1ms because it threw immediately — without the
    // errored-set guard the core sum would come out SMALLER than a green
    // run's, which is the exact inversion the metric must never show.
    val results = fullResults.map {
      case ("w5_macd", _) => ("w5_macd", 0.001)
      case other          => other
    }
    assert(Bench.coreSurvey2Json(results, erroredQueries = Set("w5_macd")) === "null")
  }

  test("a failed EXTENSION query leaves the core metric intact") {
    val json = Bench.coreSurvey2Json(fullResults, erroredQueries = Set("x_tokens"))
    assert(json.toDouble === Bench.CoreSurvey2.size.toDouble)
  }

  test("an allowlist that dropped a core query yields null, not a partial") {
    val partial = fullResults.filterNot(_._1 == "dashboard_cascade")
    assert(Bench.coreSurvey2Json(partial, erroredQueries = Set.empty) === "null")
  }

  // --- the determinism-sort toggle (round-12 task 1) ---

  test("Q.sorted with determinismSort off is the identity — no exchange, no sort") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val df = Seq((2, "b"), (1, "a")).toDF("k", "v")
    assert(Q.determinismSort, "tests run under the Verify default (sort on)")
    val sortedPlan = Q.sorted(df, "k").queryExecution.logical.toString
    assert(sortedPlan.contains("Repartition") || sortedPlan.contains("Sort"),
      s"default arm must keep the total order:\n$sortedPlan")
    Q.determinismSort = false
    try {
      // identity by REFERENCE: zero plan nodes added, so a bench or
      // production run pays nothing — not even a no-op projection
      assert(Q.sorted(df, "k") eq df)
    } finally Q.determinismSort = true
  }

  test("JSON escaper output parses back: quote, backslash, tab, CR, \\u0001") {
    val raw = "q\"b\\t\tc\rx\u0001n\ne"
    val json = graft.tools.OracleDump.jstr(raw)
    assert(!json.exists(_ < ' '), s"raw control character left in $json")
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[String])
    assert(back === raw)
  }
}
