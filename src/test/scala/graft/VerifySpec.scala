package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Verify.run` names every entry that throws (its `main` then exits
  * non-zero) and still writes the oracle SQL. */
class VerifySpec extends AnyFunSuite with SparkTestSession {

  test("an entry run against a missing sfDir is reported as failed, with no output left") {
    ScratchDir.withDir("verify") { out =>
      val only = Some("^q05_star_join$".r)
      assert(Verify.run(spark, s"$out/no-such-sf", out, only) == Seq("q05_star_join"))
      assert(!new java.io.File(s"$out/q05_star_join").exists())
      assert(new java.io.File(s"$out/oracle_sql.json").exists())
      // the same entry on real data passes
      assert(Verify.run(spark, "/root/testdata/sf0.001", out, only).isEmpty)
      assert(new java.io.File(s"$out/q05_star_join").isDirectory)
    }
  }
}
