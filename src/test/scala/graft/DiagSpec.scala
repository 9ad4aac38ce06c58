package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Diag` rejects a mode or query name it does not know before
  * starting Spark. */
class DiagSpec extends AnyFunSuite {

  test("an unknown or missing Diag mode fails fast listing the five modes") {
    for (args <- Seq(Array("timeq"), Array.empty[String])) {
      val e = intercept[IllegalArgumentException](Diag.main(args))
      assert(e.getMessage.endsWith(
        "modes: time, explain, probe, regex-ab, dedup-scale"), e.getMessage)
    }
  }

  test("an unknown query name fails fast instead of timing nothing") {
    for (args <- Seq(Array("time", "web_verdict"),
        Array("time", "all", "web_verdict"),
        Array("explain", "out", "r1", "web_verdicts", "web_verdict"))) {
      val e = intercept[IllegalArgumentException](Diag.main(args))
      assert(e.getMessage.startsWith("unknown query web_verdict;"),
        e.getMessage)
    }
  }
}
