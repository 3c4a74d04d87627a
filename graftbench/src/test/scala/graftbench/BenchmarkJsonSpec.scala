package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json names exactly the metrics the runs print. */
class BenchmarkJsonSpec extends AnyFunSuite {

  private lazy val root = new ObjectMapper().readTree(
    Files.readString(Paths.get("..", "BENCHMARK.json")))

  private def metrics(key: String): Seq[(String, String)] =
    root.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("end-to-end metrics match the untraced run's") {
    assert(metrics("end_to_end") == Main.EndToEnd)
  }

  test("per-layer metrics match the traced run's") {
    assert(metrics("per_layer") == Layers.Names.map(n => n -> Layers.unitOf(n)))
  }

  test("workloads are ones the benchmark runs") {
    val names = root.get("workloads").elements().asScala
      .map(_.get("name").asText()).toSeq
    assert(names.nonEmpty)
    assert(names.forall(Set("commit_stream", "dedup_corpus")))
  }
}
