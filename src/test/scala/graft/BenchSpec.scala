package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** graft.Bench's report: a query that fails every rep is listed as an
  * error and never summed into the total, and the JSON it writes parses
  * whatever the default locale. */
class BenchSpec extends SparkSpec {

  test("a failing query is reported under errors and kept out of the total") {
    val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_ok" -> ((s, _) => s.range(10).toDF("id")),
      "q_boom" -> ((_, _) => throw new IllegalStateException("injected failure")))
    val (times, errors) = Bench.timeQueries(spark, sfDir, qs, Seq("q_ok", "q_boom"), 2)
    assert(times.keySet === Set("q_ok"))
    assert(times("q_ok").size === 2)
    assert(errors === Map("q_boom" -> "IllegalStateException"))

    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val (line, compact, sidecar) = try
      Bench.report(sfDir, Seq("q_ok", "q_boom"), times, errors, Map("sub" -> 0.125))
    finally java.util.Locale.setDefault(saved)

    val json = new ObjectMapper()
    val full = json.readTree(line)
    assert(full.get("value").asDouble === times("q_ok").min)
    assert(full.get("queries").has("q_ok"))
    assert(!full.get("queries").has("q_boom"))
    assert(full.get("errors").get("q_boom").asText === "IllegalStateException")
    val short = json.readTree(compact)
    assert(short.get("value").asDouble === times("q_ok").min)
    assert(short.get("n_queries").asInt === 1)
    assert(short.get("n_errors").asInt === 1)
    val side = json.readTree(sidecar)
    assert(side.get("substrate_build_sec").get("sub").asText === "0.125")
    assert(!side.get("medians").has("q_boom"))
    assert(side.get("reps").get("q_ok").size === 2)
  }
}
