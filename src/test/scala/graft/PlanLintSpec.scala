package graft

import graft.plans.PlanLint

/** The automated sweep behind `PLANLINT.json` (r8-verdict #8): every
  * query in [[SparkEntry.queries]] is built against sf0.001 and its
  * executed/optimized plan linted for the three hazards rounds 7–8
  * fixed by hand — cartesian products, partition-less windows over
  * unbounded input, forced broadcasts of unbounded data-dependent
  * sets. The gate is ZERO non-allowlisted hits (and the allowlist is
  * embedded in the artifact, so every exception is visible).
  */
class PlanLintSpec extends SparkSpec {

  test("plan lint: all registered queries are free of the three scale hazards") {
    val hits = Seq.newBuilder[PlanLint.Hit]
    val failures = Seq.newBuilder[(String, String)]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try hits ++= PlanLint.lint(name, fn(spark, Sf))
      catch { case e: Throwable =>
        failures += ((name, String.valueOf(e.getMessage).take(200)))
      }
    }
    val all = hits.result()
    // the report artifact the gate run publishes — written even when
    // the assertion below is about to fail, so the artifact always
    // reflects the sweep that ran
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PLANLINT.json"), PlanLint.report(all) + "\n")
    val failed = failures.result()
    assert(failed.isEmpty,
      s"queries failed to build during lint:\n${failed.mkString("\n")}")
    assert(all.isEmpty,
      s"non-allowlisted plan-lint hits:\n${all.mkString("\n")}")
  }
}
