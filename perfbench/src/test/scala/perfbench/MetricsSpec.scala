package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The catalogue in [[Metrics]] and the repository's BENCHMARK.json
  * must declare the same workloads and metrics with the same units. */
class MetricsSpec extends AnyFunSuite {
  private lazy val declared: JsonNode = {
    val f = Seq(new File("../BENCHMARK.json"), new File("BENCHMARK.json")).find(_.isFile).get
    new ObjectMapper().readTree(f)
  }

  private def entries(key: String): Seq[(String, String)] =
    declared.get(key).elements().asScala.toSeq.map(n => (n.get("name").asText, n.get("unit").asText))

  test("every catalogue name and unit is valid and used once") {
    val names = Metrics.endToEnd.map(_.name) ++ Metrics.perLayer.map(_.name) ++ Metrics.workloads
    names.foreach(n => assert(Stats.validName(n), n))
    assert(names.distinct.size == names.size)
    (Metrics.endToEnd.map(_.unit) ++ Metrics.perLayer.map(_.unit)).foreach(u =>
      assert(Stats.validUnit(u), u))
  }

  test("each per-layer metric names an end-to-end reading and kept workloads") {
    Metrics.perLayer.foreach { l =>
      assert(l.on.split(",").forall(Metrics.workloads.contains), l)
      assert(l.moves.nonEmpty, l)
    }
  }

  test("BENCHMARK.json declares exactly the catalogue") {
    assert(entries("end_to_end") == Metrics.endToEnd.map(m => (m.name, m.unit)))
    assert(entries("per_layer") == Metrics.perLayer.map(m => (m.name, m.unit)))
    assert(declared.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Metrics.workloads)
    assert(entries("end_to_end").contains(("setup_s", "s")))
  }
}
