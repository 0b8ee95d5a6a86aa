package graft

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Harness artifacts are JSON in any JVM locale: a decimal-comma default
  * locale must not reach a number, and an error message's control
  * characters must be escaped, not dropped or left raw.
  */
class ArtifactLocaleSpec extends AnyFunSuite {

  test("StreamBench and Bench artifacts parse under a decimal-comma locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      val json = new ObjectMapper()
      val row = json.readTree(StreamBench.json(Seq(StreamBench.Result(
        "StreamingQuota", 32000, 8, 31000, 1.234, 25931.9, 154.25, 170,
        "used\t(day)", 200, 400, 400, "per source"))))
        .get("StreamingQuota")
      assert(row.get("wallSec").asDouble == 1.234)
      assert(row.get("meanBatchMs").asDouble == 154.3)
      assert(row.get("stateVar").asText == "used\t(day)")
      assert(row.get("held").asBoolean)
      val error = "bad\tvalue \"x\" C:\\tmp\n\u0001"
      val q = json.readTree(Bench.fileArtifact("sf0.01", 2,
        Seq("q01_pricing_summary" -> Seq(0.5, Double.NaN)),
        Map("q01_pricing_summary" -> error)))
        .get("detail").get("q01_pricing_summary")
      assert(q.get("error").asText == error)
      assert(q.get("min").asDouble == 0.5 && q.get("runs").get(1).isNull)
    } finally Locale.setDefault(prev)
  }
}
