package graft

import java.nio.file.{Files, Paths}

/** Verify.dump with query names: only those outputs and oracle entries. */
class VerifySpec extends SparkTestBase {

  /** The keys of a flat JSON object of strings, as Verify writes it. */
  private def jsonKeys(json: String): Set[String] =
    """"(?:[^"\\]|\\.)*"""".r.findAllIn(json).toSeq.grouped(2).map(_.head.drop(1).dropRight(1)).toSet

  test("named queries: only their outputs and oracle entries are written") {
    val out = Files.createTempDirectory("graft_verify").toString
    val names = Seq("q07_grid", "q01_candidate_scan")
    Verify.dump(spark, sfDir, out, names)
    assert(new java.io.File(out).list().toSet == names.toSet + "oracle_sql.json")
    names.foreach(n => assert(new java.io.File(s"$out/$n/_SUCCESS").isFile, s"$n not written"))
    val json = Files.readString(Paths.get(s"$out/oracle_sql.json"))
    assert(jsonKeys(json) == names.toSet)
    assert(names.forall(n => json.contains(Verify.jsonEscape(SparkEntry.oracleSql(n)))))
  }

  test("unknown names fail before any query runs, and are named") {
    val out = Files.createTempDirectory("graft_verify").toString + "/out"
    val e = intercept[IllegalArgumentException] {
      Verify.dump(spark, sfDir, out, Seq("q01_candidate_scan", "q999_missing", "nope"))
    }
    assert(e.getMessage.contains("q999_missing, nope"))
    assert(!new java.io.File(out).exists(), "nothing may be written")
  }
}
