package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins how Canary reads a stamped baseline: an sf mismatch or an
  * untagged stamp yields no floors (verdicts downgrade to no_baseline),
  * and a runs or band mismatch keeps the floors with a warning. */
class CanaryBaselineSpec extends AnyFunSuite {

  private val sf = "testdata/sf0.1"
  private def stamp(meta: String) =
    s"""{$meta"queries":{"q01_pricing_summary":1.5,"q30_wordcount":0.25}}"""
  private val floors = Map("q01_pricing_summary" -> 1.5, "q30_wordcount" -> 0.25)

  /** The note is spliced into the output line after another field. */
  private def noteFields(note: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree("{" + note.drop(1) + "}")

  test("a stamp taken under the same settings yields its floors and no note") {
    val (got, note) = Canary.readBaseline(stamp(s""""sf":"$sf","runs":3,"band":1.3,"""), sf, runs = 3)
    assert(got == floors)
    assert(note == "")
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
    assert(note == "")
  }
}
