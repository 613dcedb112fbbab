package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import graft.Bench.{Adjudication, Timing}
import graft.core.Json
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins Bench's two outputs on fixed per-query results (key sets and
  * order, -1 for failures, decimal places, short keys, the 2 kB line's
  * caps and escaping) and how it reads a prior round. */
class BenchSpec extends AnyFunSuite {

  private val sf = "testdata/sf0.1"
  private val builds = Seq("q94_sigstore_build" -> 1.23456, "q222_labelstore_build" -> 0.5)
  private val timings = Seq(
    Timing("q01_pricing_summary", Seq(1.0, 1.2, 1.1)),
    Timing("q02_heavy", Seq(5.0, 4.0, 6.0), retimes = Seq(3.2, 3.1)),
    Timing("q03_sweep_failed", Nil),
    Timing("q04_moved", Seq(2.0, 2.0, 2.0), adjudication = Some(Adjudication(1.0, 1.5))))
  private val preflightFailed = Map("q05_broken" -> "boom")

  /** Parses keeping each number's decimal places. */
  private val exact = Json.mapper.reader()
    .`with`(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .without(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES)
  private def outputs(ts: Seq[Timing] = timings, sfDir: String = sf,
                      failed: Map[String, String] = preflightFailed): (JsonNode, JsonNode) = {
    val (line, detail) = Bench.report(sfDir, 3, builds, ts, failed)
    (exact.readTree(line), exact.readTree(detail))
  }
  private def keys(n: JsonNode): Seq[String] = n.fieldNames.asScala.toSeq
  private def places(n: JsonNode): Int = if (n.isIntegralNumber) 0 else n.decimalValue.scale

  test("the line and the detail keep their keys and key order") {
    val (line, detail) = outputs()
    assert(keys(line) == Seq("metric", "value", "unit", "runs", "queries", "queries_retimed",
      "retimed_n", "adjudicated", "adjudicated_n", "failed", "sf"))
    assert(keys(detail) == Seq("metric", "value", "unit", "runs") ++ builds.map(_._1) ++ Seq(
      "queries", "queries_median", "queries_max", "queries_retimed", "retime_attempts",
      "queries_adjudicated", "preflight_failed", "failed", "sf"))
    assert(keys(line.get("queries")) == Seq("q01", "q02", "q03", "q04", "q05"))
    assert(keys(detail.get("queries")) == (timings.map(_.name) :+ "q05_broken"))
    assert(keys(detail.get("queries_adjudicated").get("q04_moved")) ==
      Seq("prior", "before", "after", "direction"))
    assert(detail.get("queries_adjudicated").get("q04_moved").get("direction").asText == "regression")
    assert(detail.get("retime_attempts").get("q02_heavy").asScala.map(_.asDouble).toSeq == Seq(3.2, 3.1))
    assert(line.get("queries").get("q02").asDouble == 3.1, "value = min(median, best re-time)")
    assert(detail.get("queries_median").get("q02_heavy").asDouble == 5.0)
  }

  test("a failed and a preflight-failed query read -1 in every per-query map and are listed as failed") {
    val (line, detail) = outputs()
    for (q <- Seq("q03_sweep_failed", "q05_broken"); m <- Seq("queries", "queries_median", "queries_max"))
      assert(detail.get(m).get(q).asInt == -1, s"$m.$q")
    assert(line.get("queries").get("q03").asInt == -1 && line.get("queries").get("q05").asInt == -1)
    for (out <- Seq(line, detail))
      assert(out.get("failed").asScala.map(_.asText).toSeq == Seq("q03_sweep_failed", "q05_broken"))
    assert(detail.get("preflight_failed").get("q05_broken").asText == "boom")
    assert(line.get("value").decimalValue == new java.math.BigDecimal("6.200"), "total leaves failures out")
  }

  test("the detail has 3 decimals and the line's per-query maps 2") {
    val (line, detail) = outputs()
    def numbers(n: JsonNode): Seq[JsonNode] =
      if (n.isNumber) Seq(n) else n.elements.asScala.toSeq.flatMap(numbers)
    def decimals(n: JsonNode): Set[Int] = numbers(n).filterNot(_.isIntegralNumber).map(places).toSet
    assert(places(detail.get("value")) == 3 && places(line.get("value")) == 3)
    assert(places(detail.get("q94_sigstore_build")) == 3)
    for (m <- Seq("queries", "queries_median", "queries_max", "queries_retimed", "retime_attempts",
                  "queries_adjudicated"))
      assert(decimals(detail.get(m)) == Set(3), m)
    for (m <- Seq("queries", "queries_retimed", "adjudicated"))
      assert(decimals(line.get(m)) == Set(2), m)
    assert(line.get("queries").get("q01").toString == "1.10")
    assert(detail.get("queries").get("q01_pricing_summary").toString == "1.100")
  }

  test("the line uses qNN keys unless two names share a prefix") {
    val (line, _) = outputs(Seq(Timing("q01_a", Seq(1.0)), Timing("q01_b", Seq(2.0))), failed = Map.empty)
    assert(keys(line.get("queries")) == Seq("q01_a", "q01_b"))
  }

  test("the line carries at most 8 re-times and adjudications, the largest corrections, with their totals") {
    // query i: re-time corrects the median by i, the adjudication re-run lands i/10 below the value
    val many = (1 to 10).map(i => Timing(f"q$i%02d_q", Seq(20.0, 20.0, 20.0), retimes = Seq(20.0 - i),
      adjudication = Some(Adjudication(1.0, 20.0 - i - i / 10.0))))
    val (line, detail) = outputs(many, failed = Map.empty)
    val biggest = (3 to 10).map(i => f"q$i%02d")
    assert(keys(line.get("queries_retimed")).toSet == biggest.toSet)
    assert(keys(line.get("adjudicated")).toSet == biggest.toSet)
    assert(line.get("retimed_n").asInt == 10 && line.get("adjudicated_n").asInt == 10)
    assert(detail.get("queries_retimed").size == 10 && detail.get("queries_adjudicated").size == 10)
  }

  test("an sf path and a failure message with quotes, backslashes and control characters come back intact") {
    val weirdSf = "/tmp/a\"b\\c"
    val msg = "boom\n\tat Query.build \"q05\""
    val (line, detail) = outputs(sfDir = weirdSf, failed = Map("q05_broken" -> msg))
    assert(line.get("sf").asText == weirdSf && detail.get("sf").asText == weirdSf)
    assert(detail.get("preflight_failed").get("q05_broken").asText == msg)
  }

  private val bare = s"""{"metric":"total","queries":{"q01":1.5,"q30":-1},"sf":"$sf"}"""

  test("readPrior takes a bare line or a driver wrapper on the same sf and cores") {
    assert(Bench.readPrior(bare, sf, cores = 4) == Right(Map("q01" -> 1.5)))
    assert(Bench.readPrior(bare, sf, cores = 32) == Right(Map("q01" -> 1.5)), "a bare line records no cores")
    val wrapper = s"""{"n":22,"cpus":4,"sf":0.1,"parsed":$bare}"""
    assert(Bench.readPrior(wrapper, sf, cores = 4) == Right(Map("q01" -> 1.5)))
  }

  test("readPrior gives no prior, and says why, for another sf, another core count or unreadable text") {
    val cases = Seq(
      (bare, "testdata/sf1", "ran at testdata/sf0.1, not testdata/sf1"),
      (s"""{"cpus":32,"parsed":$bare}""", sf, "ran on 32 cores, not 4"),
      ("""{"cpus":4}""", sf, "holds no queries"),
      ("not json", sf, "unreadable"))
    for ((json, sfDir, why) <- cases) {
      val got = Bench.readPrior(json, sfDir, cores = 4)
      assert(got.left.exists(_.contains(why)), s"$json: $got")
    }
  }
}
