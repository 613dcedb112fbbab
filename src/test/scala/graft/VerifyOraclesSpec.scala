package graft

import graft.core.Json
import org.scalatest.funsuite.AnyFunSuite

/** Pins that Verify's two oracle dumps, which tools/check_oracle.py
  * reads, parse back to the catalog's maps exactly. */
class VerifyOraclesSpec extends AnyFunSuite {

  test("oracle_sql.json and no_oracle_reasons.json parse back to the catalog's maps") {
    val dir = java.nio.file.Files.createTempDirectory("verify-oracles")
    Verify.writeOracles(dir.toString)
    def read(file: String): Map[String, String] =
      Json.mapper.readValue(dir.resolve(file).toFile, classOf[Map[String, String]])
    val sql = read("oracle_sql.json")
    assert(sql.size == 237 && sql == SparkEntry.oracleSql)
    assert(sql.values.exists(_.contains('\n')) && sql.values.exists(_.contains('\'')))
    val reasons = read("no_oracle_reasons.json")
    assert(reasons.size == 4 && reasons == SparkEntry.noOracleReasons)
    assert(sql.keySet.intersect(reasons.keySet).isEmpty)
  }
}
