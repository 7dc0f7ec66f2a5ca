package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The metric lists in BENCHMARK.json are the ones Main reports. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private lazy val json = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")

  private def names(section: String): Seq[(String, String)] = {
    val body = json.substring(json.indexOf(s""""$section""""))
    val block = body.substring(body.indexOf('['), body.indexOf(']') + 1)
    """\{"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r.findAllMatchIn(block)
      .map(m => m.group(1) -> m.group(2)).toSeq
  }

  test("end-to-end and per-layer metrics match BENCHMARK.json") {
    assert(names("end_to_end") == Main.EndToEnd)
    assert(names("per_layer") == Main.PerLayer)
  }

  test("the workloads match BENCHMARK.json") {
    val ws = """\{"name":\s*"([^"]+)",\s*"why"""".r.findAllMatchIn(json).map(_.group(1)).toSeq
    assert(ws == Main.Workloads)
  }
}
