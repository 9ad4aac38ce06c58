package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Diag` rejects a mode it does not know before starting Spark. */
class DiagSpec extends AnyFunSuite {

  test("an unknown or missing Diag mode fails fast listing the five modes") {
    for (args <- Seq(Array("timeq"), Array.empty[String])) {
      val e = intercept[IllegalArgumentException](Diag.main(args))
      assert(e.getMessage.endsWith(
        "modes: time, explain, probe, regex-ab, dedup-scale"), e.getMessage)
    }
  }
}
