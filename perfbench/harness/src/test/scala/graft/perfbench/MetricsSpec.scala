package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  private val all = Metrics.endToEnd ++ Metrics.perLayer

  test("every metric name matches [A-Za-z0-9_.-]+ and is used once") {
    all.foreach(m => assert(m.name.matches(Metrics.NamePattern) && m.name.length <= 64, m.name))
    assert(all.map(_.name).distinct.size == all.size)
    all.foreach(m => assert(m.unit.matches("[A-Za-z0-9_/%.-]{1,16}"), m.unit))
  }

  test("BENCHMARK.json declares exactly the harness's metrics, with the same units") {
    val f = Paths.get(sys.props.getOrElse("perfbench.benchmarkJson", "BENCHMARK.json"))
    assert(Files.exists(f), s"$f not found")
    val j = new ObjectMapper().readTree(f.toFile)
    def declared(key: String) =
      j.get(key).elements().asScala.map(m => MetricDef(m.get("name").asText, m.get("unit").asText)).toSeq
    assert(declared("end_to_end") == Metrics.endToEnd)
    assert(declared("per_layer") == Metrics.perLayer)
    assert(j.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Seq("exec_small", "query_suite"))
  }
}
