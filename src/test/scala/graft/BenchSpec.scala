package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench` keeps a committed `BENCH_SELF.json` from one run config from
  * being replaced by a run under another. */
class BenchSpec extends AnyFunSuite {

  private def artifact(master: String, parts: String) =
    s"""{"metric":"total","value":112.6,"unit":"sec","queries":{},"failed":[],""" +
      s""""sf":"/data/sf0.1","config":{"spark":"4.1.2","master":"$master",""" +
      s""""shufflePartitions":"$parts","queryCount":182,"bestOf":3}}"""

  test("same master and shuffle partitions: the artifact may be overwritten") {
    assert(Bench.overwriteConflict(artifact("local[8]", "8"), "local[8]", "8").isEmpty)
  }

  test("a different master or shuffle-partition count refuses the overwrite, naming both configs") {
    val byMaster = Bench.overwriteConflict(artifact("local[8]", "8"), "local[32]", "8")
    assert(byMaster.exists(m => m.contains("master=local[8]") && m.contains("master=local[32]")))
    val byParts = Bench.overwriteConflict(artifact("local[8]", "8"), "local[8]", "32")
    assert(byParts.exists(m =>
      m.contains("shufflePartitions=8") && m.contains("shufflePartitions=32")))
    assert(byParts.get.linesIterator.size == 1)
  }

  test("an SF dir holding a quote, a backslash and a tab still gives a JSON line") {
    val sf = "/data/a\"b\\c\td"
    val line = Bench.summaryLine(1.5, Seq("q1" -> 0.5, "q2" -> -1d), sf)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.path("sf").asText() == sf)
    assert(json.path("queries_n").asInt() == 2 && json.path("failed").get(0).asText() == "q2")
  }

  test("an artifact with no config, or not JSON, has nothing to compare") {
    assert(Bench.overwriteConflict("""{"metric":"total","value":1.0}""", "local[8]", "8").isEmpty)
    assert(Bench.overwriteConflict("not json {", "local[8]", "8").isEmpty)
  }
}
