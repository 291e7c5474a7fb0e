package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Verify.run` names every entry that throws (its `main` then exits
  * non-zero), records each entry's outcome in verify_status.json and still
  * writes the oracle SQL. */
class VerifySpec extends AnyFunSuite with SparkTestSession {

  private def status(out: String, name: String) =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$out/verify_status.json")).get(name)

  test("an entry run against a missing sfDir is reported as failed, with no output left") {
    ScratchDir.withDir("verify") { out =>
      val only = Some("^q05_star_join$".r)
      assert(Verify.run(spark, s"$out/no-such-sf", out, only) == Seq("q05_star_join"))
      assert(!new java.io.File(s"$out/q05_star_join").exists())
      assert(new java.io.File(s"$out/oracle_sql.json").exists())
      val failed = status(out, "q05_star_join")
      assert(failed.get("status").asText == "failed")
      assert(failed.get("error_class").asText == "PATH_NOT_FOUND")
      assert(failed.get("rows").asLong == 0L && failed.get("wall_s").asDouble >= 0.0)
      // the same entry on real data passes, and its record counts the rows
      // it wrote
      assert(Verify.run(spark, "/root/testdata/sf0.001", out, only).isEmpty)
      assert(new java.io.File(s"$out/q05_star_join").isDirectory)
      val ok = status(out, "q05_star_join")
      assert(ok.get("status").asText == "ok" && ok.get("error_class").isNull)
      assert(ok.get("rows").asLong == spark.read.parquet(s"$out/q05_star_join").count())
    }
  }
}
