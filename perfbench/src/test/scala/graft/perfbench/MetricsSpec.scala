package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every per-layer metric BENCHMARK.json names is derived here or added
  * by run.py from the traced run's end-to-end figures. */
class MetricsSpec extends AnyFunSuite {
  private def benchmarkJson: String = {
    var d: Path = Paths.get("").toAbsolutePath
    while (d != null && !Files.exists(d.resolve("BENCHMARK.json"))) d = d.getParent
    assert(d != null, "BENCHMARK.json not found above the working directory")
    Files.readString(d.resolve("BENCHMARK.json"))
  }

  private def names(section: String): Seq[String] = {
    val json = benchmarkJson
    val start = json.indexOf(s""""$section"""")
    val end = json.indexOf("]", start)
    """"name": "([^"]+)"""".r.findAllMatchIn(json.substring(start, end))
      .map(_.group(1)).toSeq
  }

  test("Layers derives every metric it names, 0 when no span feeds it") {
    val m = Layers.derive(Nil, Layers.Context(passes = 1, wallS = 1, cores = 4))
    assert(m.keySet == Layers.Names.toSet)
    assert(m.values.forall(_ == 0.0))
  }

  test("BENCHMARK.json's per-layer metrics are the derived ones plus the traced run's") {
    val fromRunPy = Seq("trace.setup_s", "trace.pass_s", "trace.op_p50_s")
    assert(names("per_layer").toSet ==
      (Layers.Names ++ Seq("trace.spans", "op.samples") ++ fromRunPy).toSet)
  }

  test("BENCHMARK.json's end-to-end metrics are the run's, plus run.py's ok share") {
    assert(names("end_to_end").toSet == (Workload.EndToEnd :+ "ops_ok_share").toSet)
  }
}
