package graft.spark

import org.scalatest.funsuite.AnyFunSuite

class ExtractMainSpec extends AnyFunSuite {

  private def parse(args: String*): Map[String, String] =
    ExtractMain.parse(args.toList, Map.empty)

  test("a well-formed command line parses to its options") {
    assert(parse("--input", "synth:100", "--out", "/tmp/o", "--run-id", "r1",
      "--buckets", "8", "--resume", "--partitions", "16", "--templates", "reg.json") ==
      Map("input" -> "synth:100", "out" -> "/tmp/o", "run-id" -> "r1", "buckets" -> "8",
        "resume" -> "true", "partitions" -> "16", "templates" -> "reg.json"))
  }

  test("a misspelt or unknown flag fails, naming the flag") {
    for (flag <- Seq("--bucket", "--template", "--runid", "--master")) {
      val e = intercept[RuntimeException](parse("--input", "synth:10", flag, "8"))
      assert(e.getMessage.contains(flag), e.getMessage)
    }
  }
}
