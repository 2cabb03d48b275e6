package graft

import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {

  test("Verify rejects a wrong argument count with its usage line, before any session") {
    Seq(Array.empty[String], Array("sf"), Array("sf", "out", "q1", "extra")).foreach { args =>
      val e = intercept[IllegalArgumentException](Verify.main(args))
      assert(e.getMessage.startsWith("usage: graft.Verify <sfDir> <outDir>"), e.getMessage)
    }
  }
}
