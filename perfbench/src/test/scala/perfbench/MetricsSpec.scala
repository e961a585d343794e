package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class MetricsSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private lazy val spec: JsonNode = mapper.readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))

  private def names(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  private def run(e2e: Map[String, Double], layers: Map[String, Double]): RunResult =
    RunResult(e2e, layers, attempted = 3, failed = 1, info = Map.empty, outcomes = Nil)

  test("BENCHMARK.json names the metrics the benchmark reports, with the same units") {
    assert(names("end_to_end") == Metrics.endToEnd.map(m => m.name -> m.unit))
    assert(names("per_layer") == Metrics.perLayer.map(m => m.name -> m.unit))
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Workload.all.map(_.name))
  }

  test("the result line holds every named metric with value and unit") {
    Workload.all.foreach { w =>
      val e2e = Metrics.endToEnd.map(_.name -> 1.5).toMap
      val line = mapper.readTree(Json.render(Metrics.result(w.name, trace = false, run(e2e, Map.empty))))
      assert(line.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
      assert(!line.get("correct").asBoolean && line.get("attempted").asInt == 3 && line.get("failed").asInt == 1)
      assert(line.get("metrics").fieldNames().asScala.toSeq == Metrics.endToEnd.map(_.name))
      Metrics.endToEnd.foreach { m =>
        assert(line.get("metrics").get(m.name).get("unit").asText == m.unit)
        assert(line.get("metrics").get(m.name).get("value").asDouble == 1.5)
      }
      val layers = Metrics.exercised(w.name).map(_.name -> 2.0).toMap
      val traced = mapper.readTree(Json.render(Metrics.result(w.name, trace = true, run(Map.empty, layers))))
      assert(traced.get("metrics").fieldNames().asScala.toSeq == Metrics.perLayer.map(_.name))
    }
  }

  test("a metric the workload should have measured but did not is an error") {
    intercept[IllegalStateException](Metrics.result("gql_mixed", trace = false, run(Map("setup_s" -> 1.0), Map.empty)))
    intercept[IllegalStateException](Metrics.result("graph_batch", trace = true, run(Map.empty, Map("op.wall_ms" -> 1.0))))
  }

  test("JSON strings are escaped") {
    assert(Json.render(Map("a\"b" -> Seq(1, 2.5, "x\ny", null, true))) == """{"a\"b": [1, 2.5, "x\ny", null, true]}""")
  }
}
