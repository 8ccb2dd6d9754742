package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {

  private def listed(key: String): Seq[(String, String)] = {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val section = json.substring(json.indexOf("\"" + key + "\""))
    val body = section.substring(section.indexOf('['), section.indexOf(']') + 1)
    "\\{\"name\": \"([^\"]+)\", \"unit\": \"([^\"]+)\"".r
      .findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toSeq
  }

  test("BENCHMARK.json lists exactly the metrics a run prints") {
    assert(listed("end_to_end") == Layers.endToEnd)
    assert(listed("per_layer") == Layers.perLayer)
  }

  test("every etl query belongs to one family; the families cover 42") {
    assert(Layers.etlQueries.size == 42)
    assert(Layers.families.flatMap(_._2).distinct.size == 42)
    assert(Layers.familyOf("q29_d2d_relation") == "simjoin")
    assert(Layers.etlQueries.forall(graft.SparkEntry.oracleSql.contains))
  }
}
