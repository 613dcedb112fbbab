package graft

import graft.core.Json
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap

/** Pins how Canary reads a stamped baseline: an sf mismatch or an
  * untagged stamp yields no floors (verdicts downgrade to no_baseline),
  * and a runs or band mismatch keeps the floors with a warning. Also
  * pins that the output line carries any sf path and failure message
  * through intact. */
class CanaryBaselineSpec extends AnyFunSuite {

  private val sf = "testdata/sf0.1"
  private def stamp(meta: String) =
    s"""{$meta"queries":{"q01_pricing_summary":1.5,"q30_wordcount":0.25}}"""
  private val floors = Map("q01_pricing_summary" -> 1.5, "q30_wordcount" -> 0.25)

  /** The note's fields as the output line carries them. */
  private def noteFields(note: Seq[(String, String)]) =
    Json.mapper.readTree(Json.write(ListMap(note: _*)))

  test("a stamp taken under the same settings yields its floors and no note") {
    val (got, note) = Canary.readBaseline(stamp(s""""sf":"$sf","runs":3,"band":1.3,"""), sf, runs = 3)
    assert(got == floors)
    assert(note.isEmpty)
  }

  test("an sf mismatch, an untagged stamp or unreadable text yields no floors") {
    val cases = Seq(
      stamp(""""sf":"testdata/sf1","runs":3,"band":1.3,""") -> "stamped at sf=testdata/sf1",
      stamp(""""runs":3,"band":1.3,""") -> "<untagged legacy stamp>",
      "not json" -> "<untagged legacy stamp>")
    for ((json, says) <- cases) {
      val (got, note) = Canary.readBaseline(json, sf, runs = 3)
      assert(got.isEmpty, json)
      val msg = noteFields(note).get("baseline_mismatch").asText
      assert(msg.contains(says) && msg.contains("no_baseline"), msg)
    }
  }

  test("a runs or band mismatch keeps the floors and warns") {
    val (got, note) = Canary.readBaseline(stamp(s""""sf":"$sf","runs":5,"band":1.5,"""), sf, runs = 3)
    assert(got == floors)
    val msg = noteFields(note).get("baseline_warning").asText
    assert(msg == "stamped runs=5, running runs=3; stamped band=1.5, judging with band=1.3", msg)
  }

  test("the committed CANARY_BASELINE.json has a floor for every canary") {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("CANARY_BASELINE.json")), "UTF-8")
    val stampedSf = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json).get("sf").asText
    val (got, note) = Canary.readBaseline(json, stampedSf, runs = 3)
    assert(got.keySet == Canary.CanarySet.toSet)
    assert(note.isEmpty)
  }

  test("the output line escapes the sf path, the note and a failure message") {
    val weirdSf = "/tmp/a\"b\\c"
    val msg = "boom\n\tat Query.build"
    val (base, note) = Canary.readBaseline(stamp(s""""sf":"$sf",""""), weirdSf, runs = 3)
    val results = Seq("q01_pricing_summary" -> Left(msg), "q30_wordcount" -> Right(0.5))
    val line = Json.mapper.readTree(Canary.line(weirdSf, 3, stamp = false, base, note, results))
    assert(line.get("sf").asText == weirdSf)
    assert(line.get("baseline_mismatch").asText.contains(s"running sf=$weirdSf"))
    val qs = line.get("queries")
    assert(qs.get("q01_pricing_summary").get("message").asText == msg)
    assert(qs.get("q01_pricing_summary").get("verdict").asText == "failed")
    assert(qs.get("q30_wordcount").get("verdict").asText == "no_baseline")
  }

  test("the output line keeps its key order and judges each canary against its floor") {
    val results = Seq("q01_pricing_summary" -> Right(3.0), "q30_wordcount" -> Right(0.25),
      "q09_window_rank_topk" -> Left("boom"))
    val line = Json.mapper.readTree(Canary.line(sf, 3, stamp = false, floors,
      Seq("baseline_warning" -> "stamped runs=5, running runs=3"), results))
    import scala.jdk.CollectionConverters._
    assert(line.fieldNames.asScala.toSeq == Seq("metric", "sf", "runs", "band", "stamped",
      "baseline_warning", "n_drift", "floor_geomean", "queries"))
    assert(line.get("n_drift").asInt == 1)
    assert(line.get("floor_geomean").asDouble == 1.414)
    val q01 = line.get("queries").get("q01_pricing_summary")
    assert(q01.fieldNames.asScala.toSeq == Seq("secs", "base", "ratio", "verdict"))
    assert(q01.get("ratio").asDouble == 2.0 && q01.get("verdict").asText == "DRIFT")
    assert(line.get("queries").get("q30_wordcount").get("verdict").asText == "ok")
  }
}
