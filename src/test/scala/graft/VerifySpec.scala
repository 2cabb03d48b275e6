package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Scratch

class VerifySpec extends AnyFunSuite {

  test("Verify rejects a wrong argument count with its usage line, before any session") {
    Seq(Array.empty[String], Array("sf"), Array("sf", "out", "q1", "extra")).foreach { args =>
      val e = intercept[IllegalArgumentException](Verify.main(args))
      assert(e.getMessage.startsWith("usage: graft.Verify <sfDir> <outDir>"), e.getMessage)
    }
  }

  test("Verify rejects a filter name that is no query with its usage line, before any session") {
    // the out dir sits under a regular file, so a Verify that got as far
    // as writing oracle_sql.json throws there, before its spark.stop()
    // could end the session the other suites share
    val file = java.nio.file.Files.createFile(
      java.nio.file.Paths.get(Scratch.dir("verify_spec"), "file.txt"))
    val e = intercept[IllegalArgumentException](Verify.main(
      Array("sf", file.resolve("out").toString, "g_triangles,no_such_query")))
    assert(e.getMessage.startsWith("usage: graft.Verify <sfDir> <outDir>"), e.getMessage)
    assert(e.getMessage.contains("no_such_query") && !e.getMessage.contains("g_triangles"),
      e.getMessage)
  }
}
